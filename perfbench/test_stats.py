"""Tests for the benchmark's own arithmetic and bookkeeping.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stats import (innermost, latency_summary, percentile, quartile_spread,  # noqa: E402
                   self_time_by_layer, self_times, union_length)


class Percentiles(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4, 1, 3, 2, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(percentile(xs, 0.9), 9.1)
        self.assertEqual(percentile(xs, 0.0), 1)
        self.assertEqual(percentile(xs, 1.0), 10)

    def test_summary_carries_sample_count(self):
        s = latency_summary([0.2, 0.1, 0.3])
        self.assertEqual(s["samples"], 3)
        self.assertAlmostEqual(s["p50"], 0.2)
        self.assertAlmostEqual(s["p90"], 0.28)

    def test_single_and_empty(self):
        self.assertEqual(latency_summary([7.0]), {"p50": 7.0, "p90": 7.0, "samples": 1})
        self.assertEqual(latency_summary([]), {"p50": None, "p90": None, "samples": 0})

    def test_quartile_spread_matches_statistics_quantiles(self):
        # quantiles(n=4) of 1..10 (exclusive method): 2.75, 5.5, 8.25
        self.assertAlmostEqual(quartile_spread(list(range(1, 11))), (8.25 - 2.75) / 5.5)


class Unions(unittest.TestCase):
    def test_overlapping_job_spans_count_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(5, 5), (7, 6)]), 0)


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": "p", "parent": None, "layer": "bench", "start": 0, "end": 100},
        {"id": "q", "parent": "p", "layer": "queries", "start": 10, "end": 90},
        {"id": "b", "parent": "q", "layer": "driver", "start": 10, "end": 20},
        {"id": "a", "parent": "b", "layer": "catalyst", "start": 12, "end": 15},
        {"id": "j1", "parent": "q", "layer": "exec", "start": 30, "end": 60},
        {"id": "j2", "parent": "q", "layer": "exec", "start": 50, "end": 95},  # past its parent
    ]

    def test_self_time_subtracts_union_of_children(self):
        t = self_times(self.SPANS)
        self.assertEqual(t["p"], 20)   # 100 - q's 80
        self.assertEqual(t["q"], 80 - 10 - (90 - 30))  # children clipped to q
        self.assertEqual(t["b"], 7)
        self.assertEqual(t["a"], 3)
        self.assertEqual(t["j1"], 30)

    def test_by_layer_sums_self_times(self):
        layers = self_time_by_layer(self.SPANS)
        self.assertEqual(layers["exec"], 30 + 45)
        self.assertEqual(layers["queries"], 10)

    def test_innermost_container(self):
        spans = self.SPANS[:3]
        self.assertEqual(innermost(12, spans), "b")
        self.assertEqual(innermost(50, spans), "q")
        self.assertEqual(innermost(95, spans), "p")
        self.assertIsNone(innermost(150, spans))


class IngestModel(unittest.TestCase):
    def test_merge_updates_matches_and_inserts_the_rest(self):
        m = checks.IngestModel()
        m.apply("append", ["0", "4"])
        m.apply("merge", ["2", "6", str(1 << 24)])
        vs = sorted(v for rows in m.rows.values() for v in rows.elements())
        self.assertEqual(vs, [0, 1, 4, 5, 2 + (1 << 24), 3 + (1 << 24)])
        self.assertEqual(m.ingested_rows, 6)
        self.assertEqual(m.totals(), [6, sum(vs)])

    def test_update_and_delete_by_key(self):
        m = checks.IngestModel()
        m.apply("append", ["0", "32"])
        before = m.totals()
        m.apply("update", ["4", "1", "100"])
        n_hit = sum(m.agg[k][0] for k in range(16) if k % 4 == 1)
        self.assertEqual(m.totals(), [before[0], before[1] + 100 * n_hit])
        m.apply("delete", ["0", "16"])
        self.assertEqual(m.totals(), [0, 0])
        self.assertEqual(m.per_key(), [])


class TracingOverhead(unittest.TestCase):
    @staticmethod
    def passes(times, traced):
        return [{"start_ms": 0, "end_ms": t * 1000, "traced": tr} for t, tr in zip(times, traced)]

    def test_neighbours_cancel_linear_drift(self):
        # untraced passes speed up by 1 s each; the traced one costs 0.5 s extra
        p = self.passes([10, 9.5, 8], [False, True, False])
        self.assertAlmostEqual(run.tracing_overhead(p), 0.5)

    def test_two_passes_fall_back_to_difference(self):
        p = self.passes([10, 9], [False, True])
        self.assertAlmostEqual(run.tracing_overhead(p), -1.0)


class IngestLog(unittest.TestCase):
    def test_passes_repeat_one_multiset_and_time_travel_stays_readable(self):
        with tempfile.TemporaryDirectory() as d:
            gen.ingest_log(Path(d), seed=5, passes=6)
            lines = [l.split("\t") for l in (Path(d) / "log.tsv").read_text().splitlines()]
        kinds = [sorted(l[1] for l in lines if l[0] == str(p)) for p in range(6)]
        self.assertTrue(all(k == kinds[0] for k in kinds))
        self.assertEqual(kinds[0].count("compact"), 1)
        last_rewrite = None
        for i, l in enumerate(lines):
            if l[1] in ("merge", "update", "delete", "compact"):
                last_rewrite = i
            if l[1] == "read_tt" and last_rewrite is not None:
                self.assertGreaterEqual(int(l[2]), last_rewrite)


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_what_run_prints(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.OP_KINDS))


if __name__ == "__main__":
    unittest.main()
