"""Self-tests of the benchmark harness: python3 -m unittest discover -s perfbench"""
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import clickgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_few_samples_report_the_median(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0]), (50, 3.0, 3))
        self.assertEqual(stats.tail(list(range(20))), (50, 9.5, 20))

    def test_ten_samples_stay_beyond_the_percentile(self):
        for n in (25, 40, 100, 1000):
            xs = [float(i) for i in range(n)]
            p, v, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
            self.assertEqual(p, (100 * (n - 10)) // n)
        self.assertEqual(stats.tail([float(i) for i in range(40)])[:2], (75, 29.0))
        self.assertEqual(stats.tail([float(i) for i in range(100)])[:2], (90, 89.0))

    def test_empty(self):
        self.assertEqual(stats.tail([]), (50, 0.0, 0))
        self.assertEqual(stats.median([]), 0.0)


class UnionTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 30), (5, 10), (12, 20)]), 30)
        self.assertEqual(stats.union_length([(20, 30), (0, 10), (10, 20)]), 30)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)

    def test_idle_is_window_minus_stage_union(self):
        p = {"start_ms": 1000, "end_ms": 3000, "wall_s": 2.0, "planning_s": 0.1,
             "engine": dict({k: 0 for k in run.ENGINE}, task_s=4.0,
                            stage_intervals=[[1000, 1500], [1200, 1800], [2500, 2600]])}
        m = run.engine_metrics(p, cores=4)
        self.assertAlmostEqual(m["idle_s"], 2.0 - 0.9)
        self.assertAlmostEqual(m["load"], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_self_times_sum_to_root(self):
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "start_ns": 50, "end_ns": 90},
            {"id": 4, "parent": 3, "start_ns": 55, "end_ns": 60},
            {"id": 5, "parent": 3, "start_ns": 70, "end_ns": 80},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 30, 3: 25, 4: 5, 5: 10})
        tree = stats.subtree(spans, 3)
        self.assertEqual(sorted(s["id"] for s in tree), [3, 4, 5])
        self.assertEqual(sum(st.values()), 100)


class GeneratorTest(unittest.TestCase):
    def gen(self, seed, n=50000):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "events.csv")
            meta = clickgen.generate(seed, n, path)
            with open(path) as f:
                lines = f.read().splitlines()
        return meta, lines

    def test_same_seed_same_bytes(self):
        a, _ = self.gen(5, 2000)
        b, _ = self.gen(5, 2000)
        c, _ = self.gen(6, 2000)
        self.assertEqual(a["sha256"], b["sha256"])
        self.assertNotEqual(a["sha256"], c["sha256"])

    def test_reference_shape(self):
        meta, lines = self.gen(1)
        self.assertEqual(lines[0], clickgen.HEADER)
        rows = [l.split(",") for l in lines[1:]]
        self.assertEqual(len(rows), meta["events"])
        for kind, share in (("view", 0.961), ("cart", 0.022), ("purchase", 0.017)):
            seen = sum(1 for r in rows if r[1] == kind) / len(rows)
            self.assertLess(abs(seen - share), 0.005, kind)
        self.assertEqual(meta["sessions"], len({r[8] for r in rows}))
        self.assertTrue(4.5 < meta["events"] / meta["sessions"] < 5.5)
        self.assertTrue(any(r[4] == "" for r in rows), "no null category_code")
        self.assertTrue(any(r[5] == "" for r in rows), "no null brand")
        stamp = re.compile(r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d UTC$")
        self.assertTrue(all(stamp.match(r[0]) for r in rows))
        self.assertEqual([r[0] for r in rows], sorted(r[0] for r in rows))


if __name__ == "__main__":
    unittest.main()
