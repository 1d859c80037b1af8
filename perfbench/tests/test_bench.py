"""Tests of the benchmark itself (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
with open(os.path.join(BENCH_DIR, "layers.json")) as fh:
    LAYERS = json.load(fh)


class StatsTest(unittest.TestCase):
    def test_median_carries_its_sample_count(self):
        self.assertEqual(stats.median_n([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(stats.median_n([4.0, 1.0]), (2.5, 2))
        self.assertEqual(stats.median_n([]), (None, 0))

    def test_spread_is_interquartile_distance_over_median(self):
        vals = [10.0] * 5 + [11.0] * 5
        q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)

    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (10, 11)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 50},
            {"id": 2, "parent": 0, "start": 40, "end": 70},   # overlaps 1
            {"id": 3, "parent": 1, "start": 20, "end": 30},
            {"id": 4, "parent": 0, "start": 90, "end": 120},  # runs past its parent
        ]
        s = stats.self_times(spans)
        self.assertEqual(s[0], 100 - (60 + 10))
        self.assertEqual(s[1], 40 - 10)
        self.assertEqual(s[2], 30)
        self.assertEqual(s[3], 10)

    def test_name_rule(self):
        for ok in ("op_s_p50", "spark.jobs", "a-b.c_d", "9lives"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "slash/no", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)


class BenchmarkFileTest(unittest.TestCase):
    def names(self):
        yield from (w["name"] for w in BENCH["workloads"])
        for key in ("end_to_end", "per_layer"):
            yield from (m["name"] for m in BENCH[key])

    def test_keys_and_limits(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = list(self.names())
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("higher", "lower"))
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))

    def test_workloads_are_the_generators(self):
        self.assertEqual({w["name"] for w in BENCH["workloads"]}, set(gen.SIZES))

    def test_every_layer_metric_names_what_it_should_move(self):
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        workloads = {w["name"] for w in BENCH["workloads"]}
        self.assertEqual({m["name"] for m in BENCH["per_layer"]}, set(LAYERS))
        for name, p in LAYERS.items():
            self.assertIn(p["moves"], e2e, name)
            self.assertTrue(p["workloads"], name)
            self.assertLessEqual(set(p["workloads"]), workloads, name)
            self.assertTrue(p["prediction"], name)


def fake_report(workload):
    """A two-op traced report: op 0 untraced, op 1 traced with spans."""
    t = 1_000_000_000_000
    ms = 1_000_000
    layers = run.PLUMBER_SPANS if workload == "plumber_optimize" else \
        [f"operators.{q}" for q in run.CURATION]
    spans = [{"id": 0, "parent": -1, "op": 1, "name": "op",
              "start_ns": t + 1000 * ms, "end_ns": t + 1000 * ms + 100 * len(layers) * ms}]
    for i, name in enumerate(layers):
        s = t + 1000 * ms + (100 * i + 5) * ms
        spans.append({"id": i + 1, "parent": 0, "op": 1, "name": name,
                      "start_ns": s, "end_ns": s + 90 * ms})
    end = spans[0]["end_ns"]
    counters = {"jobs": [[10, 40], [30, 60]], "actions": 2,
                "plan_ms": 7, "executor_cpu_ms": 50.0, "gc_ms": 1, "input_mb": 1.0,
                "shuffle_write_mb": 2.0, "shuffle_read_mb": 2.0, "spill_mb": 0.0,
                "slowest_stage_ms": 30, "tasks_ok": 9, "tasks_failed": 1}
    counters["jobs"] = [[t // ms + 1000 + a, t // ms + 1000 + b] for a, b in counters["jobs"]]
    ops = [
        {"id": 0, "traced": False, "start_ns": t, "end_ns": t + 900 * ms, "spark": {},
         "counts": {}},
        {"id": 1, "traced": True, "start_ns": spans[0]["start_ns"], "end_ns": end,
         "spark": counters, "counts": {"rules_applied": 3.0, "rules_skipped": 1.0,
                                       "cached_rdds_after_op": 2.0}},
    ]
    return {"cores": 4, "ops": ops, "spans": spans}


class LayerMetricsTest(unittest.TestCase):
    def test_traced_run_reports_every_per_layer_metric(self):
        for w in gen.SIZES:
            got = run.layer_metrics(w, fake_report(w))
            self.assertEqual(set(got), {m["name"] for m in BENCH["per_layer"]}, w)
            units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
            for name, v in got.items():
                self.assertEqual(v["unit"], units[name], name)

    def test_plumber_layers_and_uncovered_add_up_to_the_op(self):
        rep = fake_report("plumber_optimize")
        got = run.layer_metrics("plumber_optimize", rep)
        parts = sum(got[run.metric_of(s)]["value"] for s in run.PLUMBER_SPANS)
        total = parts + got["api.uncovered_ms"]["value"]
        self.assertAlmostEqual(total, got["trace.op_ms"]["value"])
        self.assertAlmostEqual(got["api.uncovered_ms"]["value"], 10.0 * len(run.PLUMBER_SPANS))
        self.assertAlmostEqual(got["rules.applied_ratio"]["value"], 0.75)
        self.assertAlmostEqual(got["spark.task_success_ratio"]["value"], 0.9)

    def test_spark_job_union_and_per_query_jobs(self):
        got = run.layer_metrics("curation_mix", fake_report("curation_mix"))
        # jobs [10, 40] and [30, 60] ms after op start cover 50 ms once
        self.assertAlmostEqual(got["spark.driver_gap_ms"]["value"],
                               got["trace.op_ms"]["value"] - 50)
        self.assertEqual(got["spark.jobs"]["value"], 2)
        first = f"operators.{run.CURATION[0]}_jobs"
        self.assertEqual(got[first]["value"], 2)
        self.assertAlmostEqual(got["trace.overhead_ms"]["value"],
                               got["trace.op_ms"]["value"] - 900)


class CheckTest(unittest.TestCase):
    def test_components_label_with_smallest_member(self):
        import numpy as np
        got = check.components(np.array([5, 1, 7, 3, 9]), np.array([7, 9]), np.array([5, 3]))
        want = pd.DataFrame({"doc_id": [1, 3, 5, 7, 9], "cluster_id": [1, 3, 5, 5, 3]})
        self.assertIsNone(check.same(got, want))

    def test_same_is_exact_unless_told_otherwise(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, 1.0]})
        b = pd.DataFrame({"k": [1, 2], "v": [1.0, 0.3]})
        self.assertIsNotNone(check.same(a, b))
        self.assertIsNone(check.same(a, b, rel=1e-9))
        self.assertIn("rows", check.same(a, b.head(1)))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables_and_structure_kept(self):
        d1 = gen.documents(1, 200)
        self.assertTrue(d1.equals(gen.documents(1, 200)))
        d2 = gen.documents(2, 200)
        self.assertFalse(d1.equals(d2))
        # the seeded rewrite keeps every text and the id order of the texts
        by_id = [d.sort_by("doc_id")["text"].to_pylist() for d in (d1, d2)]
        self.assertEqual(by_id[0], by_id[1])
        texts = d1["text"].to_pylist()
        self.assertEqual(sum(t.rsplit(" ", 1)[0] in set(texts) for t in texts), 200 // 20)
        li = gen.lineitem(3, 4000).to_pandas()
        self.assertFalse(li.duplicated(["l_orderkey", "l_linenumber"]).any())
        self.assertTrue(li.equals(gen.lineitem(3, 4000).to_pandas()))

    def test_names_in_this_file_follow_the_rule(self):
        for name in LAYERS:
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_.-]+", name), name)


if __name__ == "__main__":
    unittest.main()
