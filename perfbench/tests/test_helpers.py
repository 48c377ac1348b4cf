"""Tests of the lane benchmark's own helpers.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
The lane-spec test builds the harness with sbt if it is not built yet.
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_enough_samples_gives_the_asked_percentile(self):
        xs = list(range(1, 101))  # 100 samples: 10 lie beyond p90
        v, p, n = metrics.tail_percentile(xs, 0.9)
        self.assertEqual((p, n), (0.9, 100))
        self.assertAlmostEqual(v, 90.1)

    def test_few_samples_fall_back_to_the_highest_percentile_with_ten_beyond(self):
        xs = list(range(50))
        v, p, n = metrics.tail_percentile(xs, 0.9)
        self.assertAlmostEqual(p, 0.8)
        self.assertEqual(n, 50)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median_needs_twenty_samples(self):
        self.assertEqual(metrics.tail_percentile(range(20), 0.5)[1], 0.5)
        self.assertAlmostEqual(metrics.tail_percentile(range(14), 0.5)[1], 1 - 10 / 14)

    def test_under_ten_samples_has_no_value(self):
        self.assertEqual(metrics.tail_percentile(range(9), 0.5), (None, None, 9))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail_percentile([5, 1, 4, 2, 3] * 4, 0.5),
                         metrics.tail_percentile(sorted([5, 1, 4, 2, 3] * 4), 0.5))


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6)]), 6)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 1), (1, 2)]), 3)

    def test_clipping_to_the_lane_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)


def synthetic_samples():
    lane = {"lane": "q1_agg", "ok": True, "build_s": 0.1, "wall_s": 0.3,
            "start_ms": 0, "end_ms": 300, "job_intervals": [[10, 200]],
            "stage_skews": [1.0] * 12, "ops": {"wscg_ms": 5.0}, "batch_ms": [10] * 12,
            "cache_left_bytes": 0}
    counters = ["build_jobs", "queries", "analysis_ms", "optimization_ms", "planning_ms",
                "graft_rule_ns", "graft_rule_runs", "graft_rule_effective", "compiles",
                "compile_ns", "jobs", "stages", "tasks", "task_failures", "task_run_ms",
                "task_cpu_ns", "gc_ms", "input_bytes", "input_rows", "shuffle_write_bytes",
                "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "stream_input_rows",
                "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
                "state_commit_ms", "state_rows", "state_mem_bytes", "state_dropped_late"]
    lane.update({c: 1 for c in counters})
    return [dict(lane, kind=k, traced=t, **{"pass": p})
            for k, p, t in (("cold", 0, True), ("warm", 2, False), ("warm", 3, True))]


class MetricNames(unittest.TestCase):
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_grammar(self):
        for good in ("warm_pass_s", "sched.job_busy_s", "1x", "a-b.c_d"):
            self.assertTrue(metrics.valid_name(good), good)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65):
            self.assertFalse(metrics.valid_name(bad), bad)
        for good in ("ms", "s", "1/s", "count", "%", "MB"):
            self.assertTrue(metrics.valid_unit(good), good)
        for bad in ("", "a b", "x" * 17):
            self.assertFalse(metrics.valid_unit(bad), bad)

    def test_declared_names_are_valid_and_unique(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertTrue(metrics.valid_name(m["name"]), m["name"])
            self.assertTrue(metrics.valid_unit(m["unit"]), m["unit"])
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))

    def test_emitted_metrics_match_the_declared_ones(self):
        samples = synthetic_samples()
        jvm = {"peak_rss_mb": 1.0, "live_heap_mb": 1.0, "jit_s": 1.0, "classes_loaded": 1,
               "code_cache_mb": 1.0, "heap_after_gc_mb": 1.0}
        host = {"cpus": 4, "calib_ms": 1.0, "steal_pct": 0.0, "iowait_pct": 0.0}
        e2e, _ = metrics.end_to_end([1.0], samples, jvm)
        layers, info = metrics.per_layer(samples, jvm, host)
        for emitted, key in ((e2e, "end_to_end"), (layers, "per_layer")):
            self.assertEqual({k: u for k, (_, u) in emitted.items()},
                             {m["name"]: m["unit"] for m in self.spec[key]})
        self.assertAlmostEqual(info["wall_accounted_frac"], 1.0)


class LaneSpecs(unittest.TestCase):
    def test_families_resolve_to_their_lanes(self):
        cp, opts = run.build()
        log = run.WORK / "logs" / "lane-specs.log"
        log.parent.mkdir(parents=True, exist_ok=True)

        def lanes(spec):
            r = run.java(cp, opts, ["--list", spec], 300, log)
            self.assertEqual(r.returncode, 0)
            return r.stdout.split()

        full = {w: lanes(spec) for w, (spec, _) in run.WORKLOADS.items()}
        self.assertEqual({w: len(v) for w, v in full.items()},
                         {"analytics": 133, "llm_pipeline": 105, "streaming": 23})
        self.assertEqual(lanes("wordcount_*"), ["wordcount_documents"])
        for w, (_, subset) in run.WORKLOADS.items():
            picked = lanes(subset)
            self.assertEqual(len(picked), len(subset.split(",")), w)
            self.assertTrue(set(picked) <= set(full[w]), w)


if __name__ == "__main__":
    unittest.main()
