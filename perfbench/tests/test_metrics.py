"""Arithmetic of the benchmark's metrics: medians, geometric means, span
self times, and the reduction of a raw result into metrics."""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id, parent, name, start, end, **attrs):
    return {"id": id, "parent": parent, "name": name, "start_ns": start, "end_ns": end,
            "attrs": attrs}


def lane(name, s, **kw):
    d = {"lane": name, "s": s, "rows": 1, "hashsum": "0", "error": None, "write_bytes": 0,
         "files": 0, "checkpoint_bytes": 0, "heap_live_before": 0}
    d.update(kw)
    return d


def job(id, parent, start, end, graftshim=False, **kw):
    attrs = {"stages": 1, "tasks": 4, "task_failures": 0, "run_ms": 1000, "cpu_ns": 5 * 10**8,
             "gc_ms": 10, "shuffle_write": 100, "shuffle_read": 100, "spill": 0, "input": 50,
             "output": 0, "graftshim": graftshim, "failed": False}
    attrs.update(kw)
    return span(id, parent, "spark.job", start, end, **attrs)


class Arithmetic(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(metrics.geomean([2.0]), 2.0)
        # every lane weighs the same: doubling any one lane moves it equally
        base = metrics.geomean([0.1, 10.0])
        self.assertAlmostEqual(metrics.geomean([0.2, 10.0]) / base, math.sqrt(2))
        self.assertAlmostEqual(metrics.geomean([0.1, 20.0]) / base, math.sqrt(2))
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_part_once(self):
        parent = span(1, 0, "lane", 100, 200)
        kids = [span(2, 1, "spark.job", 110, 150), span(3, 1, "spark.job", 140, 160),
                span(4, 1, "spark.job", 190, 230)]  # runs past the parent's end
        # covered: 110..160 (50) and 190..200 (10)
        self.assertEqual(metrics.self_time(parent, kids), 40)
        self.assertEqual(metrics.self_time(parent, []), 100)

    def test_units(self):
        self.assertEqual(metrics.unit("lane.graph_scc.s"), "s")
        self.assertEqual(metrics.unit("storage.commit_ms_p50"), "ms")
        self.assertEqual(metrics.unit("spark.shuffle_write_bytes"), "bytes")
        self.assertEqual(metrics.unit("spark.busy_ratio"), "ratio")
        self.assertEqual(metrics.unit("spark.jobs"), "count")


class Reduction(unittest.TestCase):
    def raw(self):
        passes = [
            {"kind": "cold", "traced": False, "commit_s": 0.5,
             "commit_ms": [1.0], "lanes": [lane("a", 4.0), lane("b", 6.0)]},
            {"kind": "warm", "traced": False, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("a", 1.0), lane("b", 4.0)]},
            {"kind": "warm", "traced": False, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("a", 3.0), lane("b", 12.0)]},
            {"kind": "warm", "traced": False, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("a", 2.0), lane("b", 8.0, heap_live_before=3 * 2**20)]},
        ]
        return {"passes": passes, "ready_epoch_ms": 12500, "heap_live_end": 2**20,
                "peak_rss_kb": 2048 + 512, "heap_committed_bytes": 2 * 2**20}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.raw(), t_launch=10.0)
        self.assertAlmostEqual(m["setup_s"], 2.5)
        self.assertAlmostEqual(m["first_pass_s"], 10.5)  # lanes + commits
        self.assertAlmostEqual(m["pass_s"], 10.0)  # median of 5, 15, 10
        self.assertAlmostEqual(m["lane_geomean_s"], 4.0)  # lane medians 2 and 8
        self.assertAlmostEqual(m["live_heap_mb"], 3.0)  # the largest live heap
        self.assertAlmostEqual(m["native_mb"], 0.5)  # peak RSS minus the heap

    def test_per_layer_from_spans(self):
        ms = 10**6
        passes = [
            {"kind": "cold", "traced": True, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("graph_scc", 5.0)]},
            {"kind": "warm", "traced": False, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("graph_scc", 1.0)]},
            {"kind": "warm", "traced": True, "commit_s": 0.0, "commit_ms": [],
             "lanes": [lane("graph_scc", 1.2)]},
        ]
        spans = [
            span(1, 0, "pass", 0, 5000 * ms, kind="cold"),
            span(2, 1, "lane", 0, 5000 * ms, lane="graph_scc"),
            span(10, 0, "pass", 10000 * ms, 11200 * ms, kind="warm"),
            span(11, 10, "lane", 10000 * ms, 11200 * ms, lane="graph_scc"),
            job(12, 11, 10100 * ms, 10500 * ms, graftshim=True),
            job(13, 11, 10400 * ms, 10800 * ms),
            span(14, 11, "plans.query_execution", 10800 * ms, 10800 * ms, catalyst_ms=30),
        ]
        raw = {"passes": passes, "spans": spans, "nproc": 4, "codegen_compile_ms": 1500,
               "codegen_classes": 42, "probes": [{}], "input_bytes": {"customer": 1000},
               "lane_tables": {"graph_scc": ["customer"]},
               "all_lanes": ["ann_topk", "graph_scc"]}
        m = metrics.per_layer(raw)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["lane.graph_scc.jobs"], 2)
        self.assertAlmostEqual(m["lane.graph_scc.s"], 1.2)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.5)  # 1.2 s minus 0.7 s of jobs
        self.assertAlmostEqual(m["spark.busy_ratio"], 2.0 / (1.2 * 4))
        self.assertEqual(m["graftshim.checkpoint_jobs"], 1)
        self.assertAlmostEqual(m["graftshim.checkpoint_s"], 0.4)
        self.assertEqual(m["plans.query_executions"], 1)
        self.assertAlmostEqual(m["plans.catalyst_s"], 0.03)
        self.assertAlmostEqual(m["tracing.overhead_s"], 0.2)
        self.assertAlmostEqual(m["plans.codegen_compile_s"], 1.5)
        self.assertEqual(m["lane.ann_topk.jobs"], 0)  # lanes of other workloads read 0

    def test_probe_self_times(self):
        probes = [{"convert.orders": 1.0, "scan.orders": 0.4, "convert.events": 0.5,
                   "scan.events": 0.3, "operators.lsh_candidate_pairs": 200},
                  {"convert.orders": 2.0, "scan.orders": 0.4, "convert.events": 0.5,
                   "scan.events": 0.3, "operators.lsh_candidate_pairs": 200}]
        m = metrics.probe_layers(probes, {"operators.lsh_pairs": 50})
        self.assertAlmostEqual(m["functions.convert_s"], 1.1 + 0.2)  # median self times
        self.assertAlmostEqual(m["operators.lsh_precision"], 0.25)


if __name__ == "__main__":
    unittest.main()
