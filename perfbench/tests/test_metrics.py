"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v

The last test runs the `analytics` workload with two seeds (about two
minutes).
"""
import datetime
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import oracle_digests  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([3, 1, 2], 100), 3)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.reportable(list(range(100)), 90), 89)
        self.assertIsNone(metrics.reportable(list(range(99)), 90))

    def test_p50_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.reportable(list(range(20)), 50), 9)
        self.assertIsNone(metrics.reportable(list(range(19)), 50))

    def test_reported_value_has_ten_samples_beyond(self):
        for n in (20, 37, 100, 250):
            for p in (50, 90):
                v = metrics.reportable(list(range(n)), p)
                if v is not None:
                    self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)


class Digest(unittest.TestCase):
    names = ["id", "s", "x", "arr", "d", "ts"]
    rows = [(1, "a", 1.5, None, datetime.date(2024, 1, 2),
             datetime.datetime(2024, 1, 1, 0, 0, 11, 172425)),
            (2, "bb", -0.0, [1.0, 2.5], None, None)]

    def test_order_independent(self):
        self.assertEqual(oracle_digests.digest(self.names, self.rows),
                         oracle_digests.digest(self.names, self.rows[::-1]))

    def test_multiset_sensitive(self):
        d = oracle_digests.digest(self.names, self.rows)
        self.assertNotEqual(oracle_digests.digest(self.names, self.rows + self.rows[:1]), d)
        self.assertNotEqual(oracle_digests.digest(self.names, self.rows[1:]), d)

    def test_matches_engine_side(self):
        # DigestSpec.scala asserts the same value for the same rows
        self.assertEqual(oracle_digests.digest(self.names, self.rows), "caa4768c8cdc6ae9:2")

    def test_integer_and_float_render_differently(self):
        self.assertNotEqual(oracle_digests.render(1), oracle_digests.render(1.0))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start": a, "end": b}

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0, 0.0, 10.0), self.span(2, 1, 1.0, 4.0),
                 self.span(3, 1, 3.0, 6.0), self.span(4, 1, 8.0, 9.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 0.0, 2.0), self.span(2, 1, 1.5, 5.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 1.5)

    def test_query_phases_sum_to_latency(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "op", "name": "q01", "module": "operators",
             "start": 0.0, "end": 3.0, "attrs": {}},
            {"id": 2, "parent": 1, "kind": "phase", "name": "construct",
             "module": "operators", "start": 0.0, "end": 1.0, "attrs": {}},
            {"id": 3, "parent": 1, "kind": "phase", "name": "action", "module": "operators",
             "start": 1.0, "end": 3.0, "attrs": {"plan_s": 0.25}}]
        (name, lat, c, p, e), = metrics.phase_split(spans)
        self.assertEqual(name, "q01")
        self.assertAlmostEqual(c + p + e, lat)
        self.assertAlmostEqual(p, 0.25)
        self.assertEqual(metrics.phase_split_off([(name, lat, c, p, e)]), [])

    def test_phase_split_off_flags_unaccounted_time(self):
        rows = [("q01", 1.0, 0.5, 0.1, 0.38), ("q02", 1.0, 0.5, 0.1, 0.3)]
        self.assertEqual(metrics.phase_split_off(rows), ["q02"])


class SeedIndependentDigests(unittest.TestCase):
    def test_two_seeds_give_the_same_query_digests(self):
        with open(os.path.join(BENCH, "expected_digests.json")) as f:
            expected = json.load(f)["queries"]
        for workload in run.QUERY_WORKLOADS:
            seen = []
            for seed in (1, 2):
                subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                                workload, "--seed", str(seed), "--seconds", "1"],
                               check=True, stdout=subprocess.DEVNULL)
                with open(os.path.join(BENCH, ".run", workload, "out", "result.json")) as f:
                    res = json.load(f)
                seen.append({o["name"]: o["digest"] for o in res["ops"]
                             if o["kind"] == "query"})
            self.assertEqual(seen[0], seen[1])
            self.assertEqual(seen[0], {n: expected[n]["digest"] for n in seen[0]})


if __name__ == "__main__":
    unittest.main()
