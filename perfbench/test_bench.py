"""Tests of the benchmark's Python side: metric declarations and the result
line. Run from the repository root:

    python3 -m unittest perfbench/test_bench.py
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def benchmark():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


class DeclarationTest(unittest.TestCase):
    def test_names_are_well_formed_and_unique(self):
        b = benchmark()
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_declared_workloads_are_runnable(self):
        self.assertEqual({w["name"] for w in benchmark()["workloads"]},
                         set(run.WORKLOADS))

    def test_setup_metric_is_declared(self):
        e2e = {m["name"]: m for m in benchmark()["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(m["bound"] for m in e2e.values()))

    def test_every_query_and_span_layer_is_declared(self):
        layer = {m["name"] for m in benchmark()["per_layer"]}
        scala = os.path.join(HERE, "src", "main", "scala", "graft", "perfbench", "Replay.scala")
        with open(scala) as f:
            queries = re.findall(r'"(r\d\d_raql_\w+)"', f.read())
        self.assertEqual(len(queries), 17)
        for q in queries:
            self.assertIn(f"query.{q}.build_ms", layer)
            self.assertIn(f"query.{q}.sink_ms", layer)
        for k in spans.layer_metrics_names():
            self.assertIn(k, layer)


class ResultLineTest(unittest.TestCase):
    def test_compose_prints_only_declared_names(self):
        decl = benchmark()["end_to_end"]
        values = {m["name"]: 1.5 for m in decl}
        metrics, undeclared = run.compose(values, decl)
        self.assertEqual(undeclared, [])
        self.assertEqual(set(metrics), {m["name"] for m in decl})
        for n, m in metrics.items():
            self.assertRegex(n, NAME)
            self.assertEqual(set(m), {"value", "unit"})

    def test_unmeasured_values_are_named(self):
        decl = benchmark()["end_to_end"]
        values = {m["name"]: 1.0 for m in decl}
        values[decl[0]["name"]] = float("nan")
        metrics, _ = run.compose(values, decl)
        self.assertEqual(run.unmeasured(metrics), [decl[0]["name"]])

    def test_compose_reports_undeclared_names(self):
        decl = benchmark()["end_to_end"]
        _, undeclared = run.compose({"not.declared": 1.0}, decl)
        self.assertEqual(undeclared, ["not.declared"])


class SpanTest(unittest.TestCase):
    def test_self_time_and_coverage(self):
        s = [{"id": 1, "parent": 0, "name": "measure", "layer": "harness", "start_ns": 0, "end_ns": 100},
             {"id": 2, "parent": 1, "name": "pass", "layer": "harness", "start_ns": 5, "end_ns": 95},
             {"id": 3, "parent": 2, "name": "build", "layer": "raql", "start_ns": 10, "end_ns": 50},
             {"id": 4, "parent": 2, "name": "sink", "layer": "exec", "start_ns": 40, "end_ns": 90}]
        self_ms = spans.self_time_ms(s)
        self.assertAlmostEqual(self_ms["harness"], (10 + 10) / 1e6)
        self.assertAlmostEqual(self_ms["raql"], 40 / 1e6)
        cov, rest = spans.coverage(s)
        self.assertAlmostEqual(cov, 0.9)
        self.assertAlmostEqual(rest, 10 / 1e6)


if __name__ == "__main__":
    unittest.main()
