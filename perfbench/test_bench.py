#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py

The JVM-side self-test (model and response checkers) builds the benchmark
first and is skipped when no Spark jars are installed.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(1000), 95)

    def test_small_samples_fall_back_then_give_up(self):
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(stats.percentile(xs, 50), 100)
        self.assertEqual(stats.percentile([5.0], 95), 5.0)


class FailureAccounting(unittest.TestCase):
    def test_wrong_body_counts_as_failure(self):
        ops = [{"ok": True, "status": 200}, {"ok": False, "status": 200, "err": "wrong value"},
               {"ok": False, "status": 500}]
        self.assertEqual(stats.fail_counts(ops), (3, 2))
        self.assertAlmostEqual(stats.fail_frac(ops), 2 / 3)

    def test_nothing_attempted_is_total_failure(self):
        self.assertEqual(stats.fail_frac([]), 1.0)

    def test_wrong_warehouse_fails_every_request(self):
        raw = {"workload": "serve_read",
               "ops": [{"id": i, "kind": "request", "phase": "open", "ok": True, "err": ""}
                       for i in (1, 2, 3)]
               + [{"id": 4, "kind": "ingest", "step": "tick", "phase": "setup", "ok": True}],
               "checks": [{"name": "staged_warehouse", "ok": False, "err": "checksum mismatch"}]}
        notes = run.check_ops(raw, None)
        self.assertEqual(stats.fail_counts(metrics.measured_ops(raw)), (3, 3))
        self.assertTrue(any("checksum mismatch" in n for n in notes))

    def test_warm_up_and_set_up_are_not_attempted(self):
        raw = {"ops": [{"kind": "request", "phase": "warm", "ok": False},
                       {"kind": "ingest", "phase": "setup", "ok": False},
                       {"kind": "request", "phase": "open", "ok": True},
                       {"kind": "phase", "phase": "closed", "ms": 1.0}]}
        self.assertEqual(stats.fail_counts(metrics.measured_ops(raw)), (1, 0))


class EndToEnd(unittest.TestCase):
    def test_latency_is_geometric_mean_of_per_kind_medians(self):
        def q(name, wall):
            return {"kind": "query", "query": name, "start": 0.0, "end": wall, "ok": True}
        raw = {"workload": "analytics_slice", "session_s": 1.0, "stage_s": [2.0],
               "ops": [q("a", 10.0), q("a", 30.0), q("a", 20.0), q("b", 80.0), q("b", 1000.0),
                       q("b", 40.0)]}
        e = metrics.end_to_end(raw)
        self.assertAlmostEqual(e["latency_ms"], (20.0 * 80.0) ** 0.5)
        self.assertAlmostEqual(e["setup_s"], 3.0)
        self.assertAlmostEqual(e["ops_per_s"], 6 / 1.18)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 4, 12), 8)
        self.assertEqual(stats.union_length([(0, 3)], 5, 9), 0)

    def test_driver_gap_is_wall_outside_jobs(self):
        raw = {"workload": "analytics_slice", "ops": [], "oracles": [], "counters": {},
               "heap_peak_mb": 1.0, "calib_ms": 1.0,
               "spans": [{"id": 1, "parent": 0, "op": 9, "name": "query", "start": 0.0, "end": 100.0},
                         {"id": 2, "parent": 1, "op": 9, "name": "queries.q", "start": 1.0, "end": 99.0}],
               "jobs": [{"id": 0, "start": 10.0, "end": 40.0, "stages": [], "ok": True},
                        {"id": 1, "start": 30.0, "end": 50.0, "stages": [], "ok": True}],
               "stages": []}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["engine.driver_gap_s"], 0.060)
        self.assertEqual(m["engine.jobs"], 1 * 2)
        self.assertAlmostEqual(m["layer.queries.self_ms"], 98 - 40)


class TracingOverhead(unittest.TestCase):
    def test_overhead_is_median_of_paired_differences(self):
        def q(i, pair, traced, wall):
            return {"id": i, "kind": "query", "query": "q", "module": "Graph", "pair": pair,
                    "traced": traced, "start": 0.0, "end": wall, "ok": True}
        raw = {"workload": "analytics_slice", "oracles": [], "counters": {},
               "heap_peak_mb": 1.0, "calib_ms": 1.0, "spans": [], "jobs": [], "stages": [],
               "ops": [q(1, 1, True, 110.0), q(2, 1, False, 100.0),
                       q(3, 2, False, 200.0), q(4, 2, True, 230.0),
                       q(5, 3, True, 90.0), q(6, 3, False, 95.0)]}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["trace.overhead_ms"], 10.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 10.0 / 100.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = {1: {"parent": 0, "start": 0, "end": 100},
                 2: {"parent": 1, "start": 10, "end": 60},
                 3: {"parent": 1, "start": 50, "end": 70},
                 4: {"parent": 2, "start": 20, "end": 30}}
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 60)
        self.assertEqual(st[2], 50 - 10)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 10)

    def test_jobs_nest_under_the_call_and_stages_under_jobs(self):
        raw = {"spans": [{"id": 1, "parent": 0, "op": 5, "name": "request", "start": 0.0, "end": 50.0},
                         {"id": 2, "parent": 1, "op": 5, "name": "serving.http", "start": 1.0, "end": 49.0}],
               "jobs": [{"id": 3, "start": 5.0, "end": 20.0, "stages": [7], "ok": True}],
               "stages": [{"id": 7, "attempt": 0, "start": 6.0, "end": 19.0, "tasks": 4}]}
        tree = metrics.span_tree(raw)
        self.assertEqual(tree["job3"]["parent"], 2)
        self.assertEqual(tree["stage7.0"]["parent"], "job3")
        self.assertAlmostEqual(stats.self_times(tree)[2], 48 - 15)


class MetricNames(unittest.TestCase):
    def test_pattern(self):
        for ok in ("p50_ms", "serving.export_csv.ttfb_ms", "queries.Graph.wall_s", "9lives"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        self.assertEqual(e2e, list(metrics.END_TO_END))
        self.assertEqual(layer, list(metrics.PER_LAYER))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = [n for n, _ in e2e + layer] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


class JvmSelfTest(unittest.TestCase):
    def test_model_and_checkers(self):
        jars = run.find_jars()
        if jars is None:
            self.skipTest("no Spark jars")
        classes = run.build(jars)
        out = subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                              "perfbench.Main", "--selftest", "1"],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(out.returncode, 0, out.stdout[-2000:])
        self.assertIn("selftest ok", out.stdout)


if __name__ == "__main__":
    unittest.main()
