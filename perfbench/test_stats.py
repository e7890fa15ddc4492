"""Unit tests for the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def span(id, name, parent, start, end, gc=0):
    return {"id": id, "name": name, "parent": parent, "start": start,
            "end": end, "gc_ms": gc}


def job(span_id, start, end, exec_ms=0, shuffle=0):
    return {"span": span_id, "start": start, "end": end, "exec_ms": exec_ms,
            "in_bytes": 0, "shuffle_bytes": shuffle, "out_bytes": 0,
            "spill_bytes": 0}


class TailPercentile(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))

    def test_ten_samples_beyond(self):
        pct, value = stats.tail_percentile(list(range(11)))
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertEqual(value, 0)

    def test_hundred_samples_is_p90(self):
        values = list(range(100, 0, -1))
        pct, value = stats.tail_percentile(values)
        self.assertEqual(pct, 90.0)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for v in values if v > value), 10)


class GapMs(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # jobs cover 10-40 and 50-60 of the span 0-100
        jobs = [(10, 30), (20, 40), (25, 35), (50, 60)]
        self.assertEqual(stats.gap_ms(0, 100, jobs), 60)

    def test_jobs_clipped_to_span(self):
        self.assertEqual(stats.gap_ms(10, 20, [(0, 15), (18, 30)]), 3)

    def test_no_jobs(self):
        self.assertEqual(stats.gap_ms(5, 9, []), 4)


class SelfMs(unittest.TestCase):
    def test_children_subtracted_once(self):
        parent = span(0, "op:x", -1, 0, 100)
        kids = [span(1, "a", 0, 10, 50), span(2, "b", 0, 40, 70)]
        self.assertEqual(stats.self_ms(parent, kids), 40)

    def test_coverage_is_worst_op(self):
        spans = [span(0, "op:a", -1, 0, 100), span(1, "queries", 0, 0, 95),
                 span(2, "op:b", -1, 100, 200), span(3, "stores", 2, 100, 180)]
        self.assertAlmostEqual(stats.span_coverage(spans), 0.8)


class CoreUtil(unittest.TestCase):
    def test_share_of_capacity(self):
        self.assertEqual(stats.core_util(2000, 1000, 4), 0.5)

    def test_zero_wall(self):
        self.assertEqual(stats.core_util(5, 0, 4), 0.0)


class LayerMetrics(unittest.TestCase):
    def test_attribution_and_per_round(self):
        spans = [span(0, "op:day1", -1, 0, 100),
                 span(1, "pipelines", 0, 0, 60, gc=6),
                 span(2, "validate", 0, 60, 100)]
        jobs = [job(1, 10, 30, exec_ms=80, shuffle=2 * stats.MB),
                job(-1, 70, 80, exec_ms=40)]  # untagged: by start time
        plans = [{"start": 5, "plan_ms": 4, "parquet_bytes": 4 * stats.MB},
                 {"start": 65, "plan_ms": 2, "parquet_bytes": 0}]
        m = stats.layer_metrics(spans, jobs, plans, cores=4, rounds=2)
        p, v = m["pipelines"], m["validate"]
        self.assertEqual((p["calls"], p["jobs"], v["jobs"]), (0.5, 0.5, 0.5))
        self.assertEqual((p["wall_ms"], p["gap_ms"], p["gc_ms"]), (30, 20, 3))
        self.assertEqual((p["plan_ms"], v["plan_ms"]), (2, 1))
        self.assertEqual((p["shuffle_mb"], p["in_mb"]), (1, 2))
        self.assertAlmostEqual(p["core_util"], 80 / (60 * 4))
        self.assertEqual(m["queries"]["calls"], 0)


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # quantiles(n=4): 11.75, 14.5, 17.25
        self.assertAlmostEqual(stats.quartile_spread(vals), 5.5 / 14.5)


if __name__ == "__main__":
    unittest.main()
