"""Tests of the benchmark's own arithmetic and result assembly.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def span(i, parent, layer, a, b):
    return {"id": i, "parent": parent, "name": layer, "layer": layer, "op": "o",
            "start_us": a, "end_us": b}


def op(name, t, error=None, layer="silver", **traced):
    return dict({"name": name, "layer": layer, "pass": 0, "construct_s": 0.0,
                 "exec_s": t, "error": error}, **traced)


def result(window_ops, traced_ops=None):
    """A harness result document for medallion_etl with the given ops."""
    names = sorted(run.pinned("classes.json"))
    res = {
        "registered": names, "warmup": [op(o["name"], 2 * o["exec_s"]) for o in window_ops],
        "window": {"wall_s": 10.0, "pass_walls_s": [10.0], "ops": window_ops, "gc_s": 0.1,
                   "heap_used_mb": 100.0},
        "checks": [], "bronze_rows": 1000, "bronze_bytes": 2000, "sink_bytes": 1000,
        "setups": [{"setup_s": s, "gen_s": 1.0, "session_s": 0.5} for s in (3.0, 1.0, 2.0)],
        "peak_rss_mb": 512.0, "load_pre": [0.1], "load_post": [0.2], "max_heap_mb": 8192,
        "shuffle_partitions": 8, "memo_warm": [0, 0.0], "memo_end": [1, 2.0], "outputs": {}}
    if traced_ops is not None:
        res["traced"] = {"wall_s": 12.0, "pass_walls_s": [12.0], "ops": traced_ops, "gc_s": 0.2,
                         "heap_used_mb": 90.0,
                         "tables_open": [{"table": "region", "s": 0.05, "jobs": 1}],
                         "spans": [span(1, 0, "op", 0, 1000), span(2, 1, "exec", 0, 1000)]}
    return res


def plan(passes=1):
    return {"passes": [["silver.energy"]] * passes, "seed": 1, "start": "1995-01-01",
            "end": "2024-12-31", "warmup": ["silver.energy"]}


class PercentileTest(unittest.TestCase):
    def test_p90_with_enough_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90))

    def test_fallback_names_the_percentile_it_used(self):
        xs = [float(i) for i in range(1, 41)]
        value, pct = stats.tail(xs)
        self.assertEqual(pct, 75)
        self.assertEqual(value, 30.0)
        self.assertEqual(stats.beyond(40, pct), 10)
        self.assertLess(stats.beyond(40, pct + 1), 10)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([1.0, 2.0, 3.0])[1], 50)


class SelfTimeTest(unittest.TestCase):
    def test_hand_built_tree(self):
        # op [0,100] has children construct [0,30] and exec [40,100];
        # exec has overlapping jobs [50,70] and [60,80] and one that
        # starts before it, [35,45]; a stage covers half of the first job
        spans = [
            span(1, 0, "op", 0, 100),
            span(2, 1, "construct", 0, 30),
            span(3, 1, "exec", 40, 100),
            span(4, 3, "job", 50, 70),
            span(5, 3, "job", 60, 80),
            span(6, 3, "job", 35, 45),
            span(7, 4, "stage", 50, 60),
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["op"], 10e-6)            # 100 - 30 - 60
        self.assertAlmostEqual(got["construct"], 30e-6)     # no children
        self.assertAlmostEqual(got["exec"], 25e-6)          # 60 - [40,45] - [50,80]
        self.assertAlmostEqual(got["job"], (10 + 20 + 10) * 1e-6)
        self.assertAlmostEqual(got["stage"], 10e-6)


class ResultTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as fh:
            self.bench = json.load(fh)

    def test_every_metric_has_its_name_and_unit(self):
        ops = [op("silver.energy", 1.0 + i / 10) for i in range(20)]
        traced = [op("silver.energy", 1.0, construct_jobs=1, exec_jobs=2, exec_tasks=8,
                     exec_task_run_s=1.0, exec_task_cpu_s=0.5) for _ in range(20)]
        res = result(ops, traced)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run.evaluate("medallion_etl", res, plan(), trace, 4)
            want = {m["name"]: m["unit"] for m in self.bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            self.assertEqual(got, want)
            for v in out["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))

    def test_a_throwing_op_is_failed_never_a_fast_time(self):
        ops = [op("silver.energy", 2.0) for _ in range(4)]
        ops.append(op("silver.energy", 0.001, error="IllegalStateException: boom"))
        out = run.evaluate("medallion_etl", result(ops), plan(), 0, 4)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (5, 1))
        m = out["metrics"]
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["ops_per_s"]["value"], 4 / 10.0)
        self.assertAlmostEqual(m["ok_ratio"]["value"], 0.8)
        self.assertIn("boom", " ".join(out["evidence"]["failures"]))

    def test_a_throwing_warm_up_op_fails_its_timed_ops(self):
        res = result([op("silver.energy", 2.0), op("silver.energy", 2.0)])
        res["warmup"][0]["error"] = "AnalysisException: boom"
        out = run.evaluate("medallion_etl", res, plan(), 0, 4)
        self.assertEqual((out["attempted"], out["failed"]), (2, 2))
        self.assertIn("silver.energy (warm-up): AnalysisException: boom",
                      out["evidence"]["failures"])

    def test_a_failed_check_fails_the_named_op(self):
        res = result([op("silver.energy", 2.0), op("jdbc.load", 3.0, layer="jdbc")])
        res["checks"] = [{"op": "jdbc.load", "where": "window", "pass": 0,
                          "detail": "dim_time holds 1 rows, star has 2"}]
        p = plan()
        p["passes"] = [["silver.energy", "jdbc.load"]]
        out = run.evaluate("medallion_etl", res, p, 0, 4)
        self.assertEqual(out["failed"], 1)
        self.assertIn("jdbc.load (window, pass 0)", out["evidence"]["failures"][0])
        # the cycle with a failed op carries no bronze rows
        self.assertEqual(out["metrics"]["rows_per_s"]["value"], 0.0)

    def test_unclassified_registry_query_is_named(self):
        res = result([op("silver.energy", 2.0)])
        res["registered"] = res["registered"] + ["q999_new_query"]
        out = run.evaluate("medallion_etl", res, plan(), 0, 4)
        self.assertFalse(out["correct"])
        self.assertIn("unclassified registry query q999_new_query", out["evidence"]["failures"])

    def test_setup_is_the_median_of_the_set_ups(self):
        out = run.evaluate("medallion_etl", result([op("silver.energy", 2.0)]), plan(), 0, 4)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 2.0)


if __name__ == "__main__":
    unittest.main()
