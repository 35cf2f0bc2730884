"""Self-tests of the benchmark's summary rules.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run    # noqa: E402
import stats  # noqa: E402


def span(i, parent, start_s, end_s, name="x"):
    return {"id": i, "parent": parent, "name": name,
            "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9),
            "start_ms": int(start_s * 1e3), "end_ms": int(end_s * 1e3)}


class Percentile(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond(self):
        v, q, n, beyond = stats.tail_percentile(range(1, 101))
        self.assertEqual((v, q, n, beyond), (90, 0.9, 100, 10))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        v, q, n, beyond = stats.tail_percentile(range(1, 51))
        self.assertEqual((v, n, beyond), (40, 50, 10))
        self.assertAlmostEqual(q, 0.8)
        v, q, n, beyond = stats.tail_percentile([5.0] * 3 + list(range(20)))
        self.assertEqual((n, beyond), (23, 10))
        self.assertGreater(q, 0.5)

    def test_never_reports_a_percentile_with_fewer_than_ten_beyond(self):
        for n in range(20, 120):
            _, _, count, beyond = stats.tail_percentile(range(n))
            self.assertEqual(count, n)
            self.assertGreaterEqual(beyond, 10)

    def test_too_few_samples_gives_the_median(self):
        v, q, n, beyond = stats.tail_percentile([4.0, 1.0, 3.0, 2.0])
        self.assertEqual((v, q, n), (2.5, 0.5, 4))
        v, q, n, beyond = stats.tail_percentile(range(19))
        self.assertEqual((v, q, n, beyond), (9, 0.5, 19, 9))


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 3), span(2, 0, 2, 5),
                 span(3, 0, 8, 12), span(4, 1, 1, 2)]
        st = stats.self_times(spans)
        # children cover [1,5] and [8,10] of the parent: 6 of its 10 s
        self.assertAlmostEqual(st[0], 4.0)
        # a grandchild is subtracted from its own parent only
        self.assertAlmostEqual(st[1], 1.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(0, -1, 2, 2.5)])[0], 0.5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class FailureAccounting(unittest.TestCase):
    def result(self):
        samples = [{"item": i, "pass": p, "traced": False, "s": s,
                    "ok": True, "error": ""}
                   for p in range(3)
                   for i, s in (("fast", 1.0), ("slow", 3.0), ("boom", 0.01))]
        for s in samples:  # the harness caught an exception from "boom"
            if s["item"] == "boom":
                s.update(ok=False, error="java.lang.RuntimeException: boom")
        return {"samples": samples, "input_rows": 100, "setup_s": 1.0,
                "passes": [{"pass": p, "traced": False, "wall_s": 4.0,
                            "cpu_s": 8.0, "heap_mb": 50.0} for p in range(3)],
                "checks": [{"item": i, "detail": ""}
                           for i in ("fast", "slow", "boom")]}

    def test_throwing_item_raises_fail_frac_and_adds_no_latency(self):
        res = self.result()
        samples = run.scored_samples(res, {})
        attempted, failed, lat = stats.account(samples)
        self.assertEqual((attempted, failed), (9, 3))
        self.assertNotIn(0.01, lat)
        metrics, detail = run.end_to_end(res, (attempted, failed, lat))
        self.assertAlmostEqual(detail["fail_frac"], 1 / 3)
        self.assertEqual(detail["item_samples"], 6)
        self.assertEqual(metrics["item_p50_s"][0], 2.0)

    def test_output_mismatch_fails_every_sample_of_the_item(self):
        res = self.result()
        samples = run.scored_samples(res, {"slow": "rows exp=3 got=2"})
        attempted, failed, lat = stats.account(samples)
        self.assertEqual((attempted, failed), (9, 6))
        self.assertEqual(lat, [1.0, 1.0, 1.0])


class OracleRule(unittest.TestCase):
    def test_compare(self):
        import pandas as pd
        a = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
        self.assertEqual(run.compare(a, a.iloc[::-1][["v", "k"]]), "")
        self.assertEqual(run.compare(a, a.assign(v=[1.0, 2.0 + 5e-10])), "")
        self.assertIn("col v", run.compare(a, a.assign(v=[1.0, 2.1])))
        self.assertIn("dtype", run.compare(a, a.assign(v=[1, 2])))
        self.assertIn("rows", run.compare(a, a.iloc[:1]))


if __name__ == "__main__":
    unittest.main()
