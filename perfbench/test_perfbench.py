"""Tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The arithmetic tests are instant. The seed-determinism test builds the
harness if needed and stages the stats_tables inputs three times in a
local Spark session.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def span(i, parent, start, end, name="x", pass_=0):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name, "pass": pass_}


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            span(0, -1, 0, 100, "pass"),
            span(1, 0, 10, 40),
            span(2, 0, 30, 60),    # overlaps span 1: 10..60 is covered once
            span(3, 1, 15, 20),
            span(4, 0, 90, 120),   # runs past its parent: clipped at 100
        ]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[0], 100 - 50 - 10)
        self.assertAlmostEqual(selfs[1], 30 - 5)
        self.assertAlmostEqual(selfs[3], 5)

    def test_self_times_add_up_to_the_pass_wall(self):
        spans = [span(0, -1, 0, 100, "pass"), span(1, 0, 5, 25), span(2, 1, 10, 12),
                 span(3, 0, 30, 95), span(4, 3, 40, 90), span(5, 4, 41, 42)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(sum(selfs.values()), 100)
        self.assertAlmostEqual(selfs[0], 100 - 20 - 65)  # the uncovered time

    def test_union_length_clips(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)], lo=4, hi=6), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_subtree(self):
        spans = [span(0, -1, 0, 1), span(1, 0, 0, 1), span(2, 1, 0, 1), span(3, -1, 0, 1)]
        self.assertEqual(metrics.subtree(spans, [1]), {1, 2})


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 50), 50)
        self.assertEqual(metrics.nearest_rank(xs, 90), 90)
        self.assertEqual(metrics.nearest_rank([7], 90), 7)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))
        self.assertEqual(metrics.tail_percentile(range(1, 21)), (50.0, 10))
        self.assertEqual(metrics.tail_percentile(range(1, 41))[0], 75.0)
        self.assertEqual(metrics.tail_percentile(range(1, 100))[0], 75.0)
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(range(1, 1001))[0], 99.0)

    def test_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(20, 50), 10)


class OperationsTest(unittest.TestCase):
    def test_failed_micro_batches_count(self):
        raw = {"warm": [{"ok": True, "batch_ms": [1.0] * 6, "counts": {"batches": 6}}],
               "passes": [{"ok": False, "batch_ms": [1.0] * 20, "counts": {"batches": 20}},
                          {"ok": True, "batch_ms": [], "counts": {}}]}
        self.assertEqual(metrics.operations(raw), (27, 20))


class SeedDeterminismTest(unittest.TestCase):
    def stage(self, seed):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stats_tables",
             "--seed", str(seed), "--seconds", "1", "--trace", "0", "--mode", "stage"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])["staged_digest"]

    def test_same_seed_same_digest_other_seed_other_digest(self):
        a, b, c = self.stage(7), self.stage(7), self.stage(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
