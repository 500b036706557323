"""Self-tests of the benchmark harness's Python half (no Spark needed).

    python3 perfbench/test_perfbench.py
"""
import filecmp
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

TMP_DIR = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "selftest")


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class SeedTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP_DIR, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP_DIR, ignore_errors=True)

    def make(self, kind, seed, tag):
        d = os.path.join(TMP_DIR, f"{kind}-{seed}-{tag}")
        if kind == "queue":
            gen.queue(d, seed, 6, 20)
        else:
            gen.corpus(d, seed, 30, 2)
        return d

    def test_same_seed_same_bytes(self):
        for kind in ("queue", "corpus"):
            self.assertTrue(same_tree(self.make(kind, 5, "a"), self.make(kind, 5, "b")), kind)

    def test_other_seed_other_bytes(self):
        for kind in ("queue", "corpus"):
            self.assertFalse(same_tree(self.make(kind, 5, "a"), self.make(kind, 6, "a")), kind)

    def test_queue_replays_are_later_copies(self):
        d = self.make("queue", 3, "a")
        payloads = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                payloads.append(f.read())
        self.assertEqual(len(payloads), 7)  # 6 payloads, one replayed
        dup = [i for i, p in enumerate(payloads) if payloads.index(p) != i]
        self.assertEqual(len(dup), 1)
        self.assertGreater(dup[0], payloads.index(payloads[dup[0]]))

    def test_sample(self):
        pool = {f"{m}{i}": {"module": m, "ref_ms": float(i)} for m in "abc" for i in range(12)}
        s = gen.sample(pool, 9)
        self.assertEqual(s, gen.sample(pool, 9))
        # from the faster half (ref 0-5) of each module, one pick per third
        for m in "abc":
            self.assertEqual(sorted(int(q[1:]) // 2 for q in s if q[0] == m), [0, 1, 2])
        # a module with nothing in the faster half still gets its cheapest
        pool.update({f"d{i}": {"module": "d", "ref_ms": 100.0 + i} for i in range(3)})
        self.assertIn("d0", gen.sample(pool, 9))

    def test_order(self):
        names = [f"q{i}" for i in range(20)]
        self.assertEqual(gen.order(names, 5), gen.order(names, 5))
        self.assertNotEqual(gen.order(names, 5), gen.order(names, 6))
        self.assertEqual(sorted(gen.order(names, 5)), sorted(names))


class PercentileTest(unittest.TestCase):
    def test_ten_beyond(self):
        self.assertEqual(report.percentile(list(range(1, 101)), 90), 90)
        with self.assertRaises(ValueError):
            report.percentile(list(range(1, 100)), 90)
        self.assertEqual(report.percentile(list(range(1, 51)), 80), 40)
        with self.assertRaises(ValueError):
            report.percentile(list(range(1, 50)), 80)

    def test_median_needs_no_tail(self):
        self.assertEqual(report.percentile([3.0, 1.0, 2.0], 50), 2.0)

    def test_highest_supported(self):
        self.assertEqual(report.highest_supported(1000), 99)
        self.assertEqual(report.highest_supported(100), 90)
        self.assertEqual(report.highest_supported(50), 80)
        self.assertEqual(report.highest_supported(40), 75)
        self.assertEqual(report.highest_supported(12), 50)
        for n in range(1, 300):
            p = report.highest_supported(n)
            self.assertTrue(p == 50 or report.beyond(n, p) >= report.MIN_BEYOND)


class SpanTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(report.union_ms([(10, 30), (20, 50), (70, 80)]), 50)
        self.assertEqual(report.union_ms([(90, 120)], 0, 100), 10)
        self.assertEqual(report.union_ms([]), 0)

    def test_self_time(self):
        spans = [
            {"kind": "unit", "name": "u", "start": 0, "end": 100},
            {"kind": "item", "name": "q", "start": 5, "end": 95},
            {"kind": "job", "name": "j1", "job_id": 1, "start": 10, "end": 30},
            {"kind": "job", "name": "j2", "job_id": 2, "start": 20, "end": 50},
            {"kind": "job", "name": "j3", "job_id": 3, "start": 90, "end": 120},
            {"kind": "stage", "name": "s", "job": 2, "start": 25, "end": 40},
        ]
        t = {s["name"]: s for s in report.build_tree(spans)}
        self.assertEqual(t["q"]["parent"], t["u"]["id"])
        for j in ("j1", "j2", "j3"):
            self.assertEqual(t[j]["parent"], t["q"]["id"])
        self.assertEqual(t["s"]["parent"], t["j2"]["id"])
        self.assertEqual(t["u"]["self_ms"], 10)          # 100 - item's 90
        self.assertEqual(t["q"]["self_ms"], 90 - 40 - 5)  # jobs cover 10-50 and 90-95
        self.assertEqual(t["j2"]["self_ms"], 30 - 15)
        self.assertEqual(t["s"]["self_ms"], 15)

    def test_innermost_parent(self):
        spans = [
            {"kind": "item", "name": "q", "start": 0, "end": 100},
            {"kind": "build", "name": "q", "start": 0, "end": 40},
            {"kind": "execute", "name": "q", "start": 40, "end": 100},
            {"kind": "job", "name": "eager", "job_id": 1, "start": 10, "end": 20},
            {"kind": "job", "name": "run", "job_id": 2, "start": 50, "end": 90},
        ]
        t = {(s["kind"], s["name"]): s for s in report.build_tree(spans)}
        self.assertEqual(t[("job", "eager")]["parent"], t[("build", "q")]["id"])
        self.assertEqual(t[("job", "run")]["parent"], t[("execute", "q")]["id"])
        self.assertEqual(t[("item", "q")]["self_ms"], 0)


if __name__ == "__main__":
    unittest.main()
