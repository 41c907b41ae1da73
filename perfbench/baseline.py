#!/usr/bin/env python3
"""Record a baseline of the benchmark on the current checkout.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline

For each declared workload it runs `perfbench/run.py` once per seed with
tracing off, recording each run's machine fingerprint (nproc, load
average, a fixed CPU canary) and result line; then one traced run per
workload and one traced single-core run (SPARK_GRAFT_CPUS=1) of
netflow_alert. It writes `baseline.json` (every run, plus median and
quartiles per metric and workload) and `REPORT.md` (the summary tables:
spread against each metric's bound, per-layer self time, tracing
overhead). `--no-traced` skips the traced runs; `--against` an earlier
baseline.json adds a table comparing the two sets' medians. Runs are
sequential; expect about a minute per run.
"""
import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spans  # noqa: E402


def canary_s():
    """A fixed pure-CPU loop, to normalise wall times across machines."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x ^= (i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t0


def fingerprint():
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "canary_s": min(canary_s() for _ in range(3))}


def run_once(workload, seed, seconds, trace, env=None):
    fp = fingerprint()
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       env=dict(os.environ, **(env or {})))
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "trace": trace, "env": env or {},
            "exit": p.returncode, "wall_s": time.time() - t0, "fingerprint": fp,
            "summary": lines[:-1], "result": result}


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline"))
    ap.add_argument("--no-traced", action="store_true")
    ap.add_argument("--against", default=None,
                    help="an earlier baseline.json to compare medians with")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    secs = bench["run_seconds"]
    runs = []
    for w in names:
        for s in seeds(a.seeds):
            r = run_once(w, s, secs, 0)
            print(f"{w} seed {s}: exit {r['exit']} {r['wall_s']:.0f} s", flush=True)
            runs.append(r)
    traced = []
    if not a.no_traced:
        trace_seed = seeds(a.seeds)[0]
        for w in names:
            traced.append(run_once(w, trace_seed, secs, 1))
        if "netflow_alert" in names:
            traced.append(run_once("netflow_alert", trace_seed, secs, 1,
                                   env={"SPARK_GRAFT_CPUS": "1"}))

    summary = {}
    for w in names:
        ok = [r for r in runs if r["workload"] == w and r["result"]]
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) >= 2:
                q = quartiles(vals)
                q.update(unit=m["unit"], bound=m["bound"])
                summary.setdefault(w, {})[m["name"]] = q
    os.makedirs(a.out, exist_ok=True)
    doc = {"date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
           "run_seconds": secs, "summary": summary, "runs": runs, "traced": traced}
    with open(os.path.join(a.out, "baseline.json"), "w") as f:
        json.dump(doc, f, indent=1)
    text = report(doc, bench)
    if a.against:
        with open(a.against) as f:
            text += agreement(json.load(f), doc)
    with open(os.path.join(a.out, "REPORT.md"), "w") as f:
        f.write(text)


def agreement(first, second):
    """Second set's median against the first's, per metric and workload."""
    out = ["", "## Two sets of runs of the same code", "",
           "| workload | metric | first median | second median | change | bound | within |",
           "|---|---|---|---|---|---|---|"]
    for w, ms in second["summary"].items():
        for name, q in ms.items():
            base = first["summary"].get(w, {}).get(name)
            if not base:
                continue
            change = (q["median"] - base["median"]) / base["median"]
            out.append(f"| {w} | {name} | {base['median']:.4g} | {q['median']:.4g} | "
                       f"{change:+.1%} | {q['bound']} | {abs(change) <= q['bound']} |")
    return "\n".join(out) + "\n"


def report(doc, bench):
    out = [f"# Benchmark baseline ({doc['date']})", ""]
    fps = [r["fingerprint"] for r in doc["runs"]]
    if fps:
        out += [f"{len(doc['runs'])} untraced runs, {doc['run_seconds']} s each; "
                f"nproc {fps[0]['nproc']}, CPU canary "
                f"{min(f['canary_s'] for f in fps):.3f}-{max(f['canary_s'] for f in fps):.3f} s, "
                f"1-min load {min(f['loadavg'][0] for f in fps):.2f}-"
                f"{max(f['loadavg'][0] for f in fps):.2f}.", ""]
    out += ["## End-to-end metrics (tracing off)", "",
            "| workload | metric | median | q1 | q3 | spread | bound | runs |",
            "|---|---|---|---|---|---|---|---|"]
    for w, ms in doc["summary"].items():
        for name, q in ms.items():
            out.append(f"| {w} | {name} ({q['unit']}) | {q['median']:.4g} | {q['q1']:.4g} | "
                       f"{q['q3']:.4g} | {q['spread']:.3f} | {q['bound']} | {q['n']} |")
    failed = [r for r in doc["runs"] if r["exit"] != 0 or not (r["result"] or {}).get("correct")]
    out += ["", f"Runs not correct: {len(failed)} of {len(doc['runs'])}."]
    for r in failed:
        out.append(f"- {r['workload']} seed {r['seed']}: exit {r['exit']}; "
                   + "; ".join(l for l in r["summary"] if "problem" in l))
    if doc["traced"]:
        out += ["", "## Traced runs: self time by layer (ms)", "",
                "| run | " + " | ".join(spans.LAYERS) + " | coverage | unattributed ms |",
                "|---|" + "---|" * (len(spans.LAYERS) + 2)]
        for r in doc["traced"]:
            if not r["result"]:
                continue
            m = {k: v["value"] for k, v in r["result"]["metrics"].items()}
            label = r["workload"] + (" (1 core)" if r["env"] else "")
            out.append(f"| {label} | " + " | ".join(f"{m.get(f'self.{l}_ms', 0):.0f}" for l in spans.LAYERS)
                       + f" | {m.get('trace.coverage', 0):.3f} | {m.get('trace.unattributed_ms', 0):.0f} |")
        out += ["", "## Tracing overhead", "",
                "End-to-end values of the traced run against the untraced median "
                "(same workload; the traced run also prints them in its summary).", "",
                "| workload | metric | untraced median | traced | change |", "|---|---|---|---|---|"]
        for r in doc["traced"]:
            if r["env"] or not r["result"]:
                continue
            w = r["workload"]
            for line in r["summary"]:
                parts = line.split()
                if len(parts) >= 2 and parts[0] in doc["summary"].get(w, {}):
                    base = doc["summary"][w][parts[0]]["median"]
                    val = float(parts[1])
                    out.append(f"| {w} | {parts[0]} | {base:.4g} | {val:.4g} | {(val - base) / base:+.1%} |")
        out += ["", "## Per-layer metrics of the traced runs", ""]
        for r in doc["traced"]:
            if not r["result"]:
                continue
            label = r["workload"] + (" (SPARK_GRAFT_CPUS=1, not scored)" if r["env"] else "")
            nz = {k: v["value"] for k, v in r["result"]["metrics"].items() if v["value"]}
            out.append(f"- **{label}**: " + ", ".join(f"`{k}` {v:.4g}" for k, v in sorted(nz.items())))
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    main()
