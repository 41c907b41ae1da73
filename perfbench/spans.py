"""Span arithmetic for the traced runs: per-layer self time and coverage.

A layer's self time is the sum over its spans of each span's duration minus
the part of that interval its child spans cover. Coverage is the share of
the timed region (the root `measure` span) covered by its children; the
rest is reported as unattributed.
"""
import json
import os

LAYERS = ["harness", "query", "raql", "plan", "exec", "sources", "trigger",
          "notify", "checkpoint"]


def covered(spans, lo, hi):
    """Length of [lo, hi) covered by the union of the spans."""
    total, end = 0, lo
    for a, b in sorted((max(s["start_ns"], lo), min(s["end_ns"], hi)) for s in spans):
        if b > a and b > end:
            total += b - max(a, end)
            end = b
    return total


def self_time_ms(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        own = dur - covered(kids.get(s["id"], []), s["start_ns"], s["end_ns"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e6
    return out


def coverage(spans):
    roots = [s for s in spans if s["name"] == "measure"]
    if not roots:
        return 0.0, 0.0
    r = roots[0]
    wall = r["end_ns"] - r["start_ns"]
    kids = [s for s in spans if s["parent"] == r["id"]]
    cov = covered(kids, r["start_ns"], r["end_ns"])
    return (cov / wall if wall else 0.0), (wall - cov) / 1e6


def layer_metrics_names():
    return [f"self.{k}_ms" for k in LAYERS] + ["trace.coverage", "trace.unattributed_ms"]


def layer_metrics(path):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = json.load(f)
    out = {f"self.{k}_ms": v for k, v in self_time_ms(spans).items() if k in LAYERS}
    cov, rest = coverage(spans)
    out["trace.coverage"] = cov
    out["trace.unattributed_ms"] = rest
    return out
