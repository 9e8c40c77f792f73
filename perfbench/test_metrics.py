"""Self-tests of the benchmark's arithmetic on synthetic samples (no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics


def span(i, parent, name, t0, t1):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1, "req": ""}


def op(kind, t0, t1, ok=True, items=1.0):
    return {"kind": kind, "t0": t0, "t1": t1, "ok": ok, "items": items}


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: p90 is rank 90, 9 beyond
        self.assertEqual(metrics.percentile(xs, 0.9), (None, 99, 9))
        xs = list(range(1, 101))  # 100 samples: p90 is rank 90, 10 beyond
        self.assertEqual(metrics.percentile(xs, 0.9), (90, 100, 10))

    def test_nearest_rank_and_order_independence(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6  # 30 samples
        v, n, beyond = metrics.percentile(xs, 0.5)
        self.assertEqual((v, n, beyond), (3.0, 30, 15))

    def test_empty(self):
        self.assertEqual(metrics.percentile([], 0.5), (None, 0, 0))
        self.assertEqual(metrics.median([]), 0.0)

    def test_spread_matches_statistics_quantiles(self):
        vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
        med, q1, q3, sp = metrics.spread(vals)
        eq1, _, eq3 = statistics.quantiles(vals, n=4)
        self.assertEqual((q1, q3), (eq1, eq3))
        self.assertAlmostEqual(sp, (eq3 - eq1) / statistics.median(vals))


class Failures(unittest.TestCase):
    def test_counts_raised_ops_and_wrong_results(self):
        ops = [op("a", 0, 1), op("a", 1, 2, ok=False), op("b", 2, 3)]
        counters = {"check.attempted": 4, "check.failed": 1}
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(metrics.count_failures(ops, counters, checks), (3 + 4 + 2, 1 + 1 + 1))

    def test_nothing_failed(self):
        self.assertEqual(metrics.count_failures([op("a", 0, 1)], {}, []), (1, 0))

    def test_failed_share_has_its_base(self):
        raw = {"workload": "sql_gateway", "ops": [op("sql.point", 0, 1), op("sql.point", 1, 2, ok=False)],
               "spans": [], "samples": {}, "counters": {"check.attempted": 2, "check.failed": 0}, "cores": 4}
        self.assertEqual(metrics.per_layer(raw)["failed_share"], 1 / 4)


class SelfTime(unittest.TestCase):
    def test_nested(self):
        # gateway 0-10 > plans 1-4 > spark 2-3; scan 5-7 under gateway
        spans = [span(1, 0, "gateway.statement", 0, 10), span(2, 1, "plans.optimize", 1, 4),
                 span(3, 2, "spark.job", 2, 3), span(4, 1, "scan.exec", 5, 7)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["gateway"], 10 - 3 - 2)
        self.assertAlmostEqual(st["plans"], 3 - 1)
        self.assertAlmostEqual(st["spark"], 1)
        self.assertAlmostEqual(st["scan"], 2)

    def test_overlapping_children_count_once(self):
        # two concurrent jobs 2-6 and 4-8 under one 0-10 span cover 2-8
        spans = [span(1, 0, "ops.dedup_ngram.exec", 0, 10), span(2, 1, "spark.job", 2, 6),
                 span(3, 1, "spark.job", 4, 8)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["operators"], 10 - 6)
        self.assertAlmostEqual(st["spark"], 4 + 4)

    def test_children_clipped_to_parent(self):
        # a batch reported past its query's end only covers the overlap
        spans = [span(1, 0, "stream.query", 0, 5), span(2, 1, "stream.batch", 3, 9)]
        self.assertAlmostEqual(metrics.self_times(spans)["streaming"], (5 - 2) + 6)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class Ratios(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        self.assertEqual(metrics.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})

    def test_zero_base_reads_zero(self):
        self.assertEqual(metrics.ratio(3, 0), {"value": 0.0, "num": 3, "den": 0})


class EndToEnd(unittest.TestCase):
    def raw(self, workload, ops, **extra):
        return dict({"workload": workload, "ops": ops, "spans": [], "counters": {}, "cores": 4,
                     "samples": {"setup_s": [3.0, 1.0, 2.0]}}, **extra)

    def test_setup_is_the_median_of_its_repetitions(self):
        e2e, _ = metrics.end_to_end(self.raw("sql_gateway", [op("sql.point", 0, 1)]))
        self.assertEqual(e2e["setup_s"], 2.0)

    def test_latency_ignores_failed_ops_and_throughput_counts_ok_items(self):
        ops = [op("sql.point", 0, 1), op("sql.topk", 1, 4), op("sql.point", 4, 5, ok=False, items=0.0)]
        e2e, info = metrics.end_to_end(self.raw("sql_gateway", ops))
        self.assertEqual(e2e["op_p50_s"], 2.0)
        self.assertEqual(e2e["items_per_s"], 2 / 5)
        self.assertEqual((info["items"], info["items_wall_s"]), (2.0, 5))

    def test_lake_latency_is_reads_and_throughput_is_committed_rows(self):
        ops = [op("lake.commit.append", 0, 2, items=100), op("lake.commit.compact", 2, 4, items=0),
               op("lake.commit.merge", 4, 5, items=50), op("lake.read.point", 0, 1), op("lake.read.full", 1, 4)]
        e2e, _ = metrics.end_to_end(self.raw("lake_ingest", ops))
        self.assertEqual(e2e["items_per_s"], 150 / 5)
        self.assertEqual(e2e["op_p50_s"], 2.0)

if __name__ == "__main__":
    unittest.main()
