"""Tests for the benchmark's own code: input generation, summary
arithmetic and the metric tables.

    python3 -m unittest discover -s contestbench -p 'test_*.py'
"""

import json
import os
import statistics
import struct
import tempfile
import unittest

import numpy as np

import gen
import run
import stats


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        a = gen.corpus(7, 600, 64, 40)
        b = gen.corpus(7, 600, 64, 40)
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)

    def test_different_seeds_differ(self):
        a_base, a_q, a_d = gen.corpus(7, 600, 64, 40)
        b_base, b_q, b_d = gen.corpus(8, 600, 64, 40)
        self.assertFalse(np.array_equal(a_base, b_base))
        self.assertFalse(np.array_equal(a_q, b_q))
        self.assertFalse(np.array_equal(a_d, b_d))

    def test_contest_shape(self):
        base, queries, delta = gen.corpus(3, 4000, 400, 80)
        self.assertEqual(base.shape, (4000, 2 + gen.DIM))
        self.assertEqual(queries.shape, (400, 4 + gen.DIM))
        self.assertEqual(delta.shape, (80, 2 + gen.DIM))
        labels, ts = base[:, 0], base[:, 1]
        self.assertTrue(((labels >= 0) & (labels < gen.LABELS)).all())
        self.assertTrue((labels == np.floor(labels)).all())
        self.assertTrue(((ts >= 0) & (ts <= 1)).all())
        # u**2 skew: label 0 holds about 10% of the rows
        self.assertAlmostEqual((labels == 0).mean(), 0.1, delta=0.03)
        qtype = queries[:, 0].astype(int)
        self.assertEqual(np.bincount(qtype).tolist(), [100, 100, 100, 100])
        v, lo, hi = queries[:, 1], queries[:, 2], queries[:, 3]
        self.assertTrue((v[(qtype == 0) | (qtype == 2)] == -1).all())
        self.assertTrue((v[(qtype == 1) | (qtype == 3)] >= 0).all())
        self.assertTrue((lo[qtype < 2] == -1).all() and (hi[qtype < 2] == -1).all())
        widths = np.round((hi[qtype >= 2] - lo[qtype >= 2]).astype(np.float64), 3)
        self.assertEqual(sorted(set(widths.tolist())), list(gen.WIDTHS))
        self.assertTrue((lo[qtype >= 2] >= 0).all() and (hi[qtype >= 2] <= 1.0001).all())

    def test_cluster_count_scales_with_base(self):
        self.assertEqual(gen.clusters_for(4000), 8)
        self.assertEqual(gen.clusters_for(10_000_000), 20000)
        self.assertEqual(gen.clusters_for(10), 1)

    def test_binary_layout(self):
        base, queries, _ = gen.corpus(5, 10, 4)
        with tempfile.TemporaryDirectory() as d:
            gen.write_inputs(d, 5, 10, 4)
            with open(os.path.join(d, "base.bin"), "rb") as f:
                raw = f.read()
            self.assertEqual(struct.unpack("<I", raw[:4])[0], 10)
            self.assertEqual(len(raw), 4 + 10 * (2 + gen.DIM) * 4)
            first = np.frombuffer(raw[4:4 + (2 + gen.DIM) * 4], dtype="<f4")
            np.testing.assert_array_equal(first, base[0])
            with open(os.path.join(d, "query.bin"), "rb") as f:
                self.assertEqual(struct.unpack("<I", f.read(4))[0], 4)
            self.assertFalse(os.path.exists(os.path.join(d, "delta.bin")))


class StatsTest(unittest.TestCase):

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5.0], 99), 5.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        # with 20 samples p99 is the maximum and no sample lies beyond it
        self.assertEqual(stats.percentile(list(range(20)), 99), 19)
        self.assertEqual(stats.beyond(list(range(20)), 99), 0)
        # ten samples beyond p99 need at least 1000 samples
        self.assertEqual(stats.beyond(list(range(1000)), 99), 10)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)

    def test_median_even_count(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_and_spread(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0, 2.0]), 0.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(20, 30), (0, 10)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (10, 12)]), 12)

    def test_span_self_time(self):
        spans = [
            # id, parent, op, name, start, end
            (0, -1, "batch#0", "bench.batch", 0, 100),
            (1, 0, "batch#0", "store.search.t0", 10, 40),
            (2, 0, "batch#0", "store.search.t1", 30, 60),  # overlaps its sibling
            (3, 1, "batch#0", "hnsw.walk", 15, 25),
            (4, -1, "", "simd.l2sq", 200, 205),
        ]
        own = stats.span_self_times(spans)
        self.assertEqual(own, {0: 50, 1: 20, 2: 30, 3: 10, 4: 5})
        by_layer = stats.layer_self_times(spans)
        self.assertEqual(by_layer, {"bench": 50, "store": 50, "hnsw": 10, "simd": 5})
        only_batch = stats.layer_self_times(spans, keep=lambda s: s[2] == "batch#0")
        self.assertNotIn("simd", only_batch)

    def test_sequential_self_times_add_up(self):
        spans = [(0, -1, "", "bench.batch", 0, 100), (1, 0, "", "store.a", 0, 40),
                 (2, 0, "", "store.b", 40, 90), (3, 2, "", "hnsw.c", 50, 60)]
        self.assertEqual(sum(stats.span_self_times(spans).values()), 100)

    def test_child_outside_parent_is_clipped(self):
        spans = [(0, -1, "", "a.x", 0, 10), (1, 0, "", "b.y", 5, 20)]
        self.assertEqual(stats.span_self_times(spans)[0], 5)

    def test_driver_only(self):
        self.assertEqual(stats.driver_only(100, []), 100)
        self.assertEqual(stats.driver_only(100, [(10, 30), (20, 50), (90, 120)]), 50)


def fake_raw(workload, trace=False):
    stmt = [100.0 + i for i in range(20)]
    values = {"recall_at_100": 0.99, "store_bytes_ratio": 4.4, "batch_qps": 5.0, "setup_s": 11.0,
              "tuner.nprobe_chosen": 2, "cache.hits": 30, "cache.misses": 10,
              "queries.t0": 100, "queries.t1": 100, "queries.t2": 100, "queries.t3": 100}
    samples = {"stmt_ms": stmt, "batch_qps": [80.0, 90.0],
               "sources.ingest_s": [1.0, 1.0], "traced:stmt_ms": [x * 1.1 for x in stmt],
               "traced:stmt_ms.t0": [1500.0], "traced:ann_topk.routed": [1.0, 1.0]}
    ops = [{"op": f"{run.MAIN_OP[workload]}#1", "kind": run.MAIN_OP[workload],
            "wall_ms": 100, "job_spans": [[10, 30]], "jobs": 3, "stages": 3, "tasks": 4,
            "executor_cpu_ms": 5.0, "executor_run_ms": 6, "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}]
    spans = [[0, -1, ops[0]["op"], "bench." + ops[0]["kind"], 0, 10_000_000],
             [1, 0, ops[0]["op"], "store.search.t0", 1_000_000, 9_000_000]]
    return {"workload": workload, "trace": trace, "values": values, "samples": samples,
            "ops": ops, "spans": spans, "checks": [], "attempted": 1, "failed": 0}


class MetricTablesTest(unittest.TestCase):

    def test_end_to_end_reports_every_metric(self):
        for workload in run.WORKLOADS:
            got = run.end_to_end(fake_raw(workload))
            self.assertEqual(set(got), set(run.END_TO_END))
            self.assertTrue(all(v > 0 for v in got.values()), got)
        self.assertEqual(run.end_to_end(fake_raw("contest-batch"))["batch_qps"], 85.0)
        self.assertEqual(run.end_to_end(fake_raw("sql-serving"))["setup_s"], 11.0)

    def test_per_layer_reports_every_metric(self):
        got = run.per_layer(fake_raw("sql-serving", trace=True))
        self.assertEqual(set(got), set(run.PER_LAYER))
        self.assertEqual(got["cache.hit_ratio"], 0.75)
        self.assertEqual(got["spark.driver_only_ms"], 80)
        self.assertEqual(got["self_ms.bench"], 2.0)
        self.assertEqual(got["self_ms.store"], 8.0)
        self.assertAlmostEqual(got["trace.overhead_pct"], 10.0)

    def test_benchmark_json_matches_tables(self):
        path = os.path.join(run.BENCH_DIR, "..", "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {n: u for n, (u, _b) in run.END_TO_END.items()})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
