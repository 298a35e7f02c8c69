"""Tests of the benchmark's own rules: python3 -m unittest discover -s perfbench"""
import json
import os
import unittest

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # p90 of 91 samples sits on index 81: only 9 samples beyond it
        self.assertIsNone(stats.percentile(list(range(91)), 90))
        self.assertIsNotNone(stats.percentile(list(range(92)), 90))
        self.assertIsNotNone(stats.percentile(list(range(100)), 90))
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9.5)
        self.assertIsNone(stats.percentile([], 50))

    def test_interpolates(self):
        xs = [float(i) for i in range(101)]
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.0)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 90), 90.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class MetricNames(unittest.TestCase):
    def test_rules(self):
        for ok in ("setup_s", "exec.core_busy_frac", "9lives", "a-b.c_d", "x" * 64):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "x" * 65, "slash/no", "é"):
            self.assertFalse(stats.valid_name(bad), bad)
        for ok in ("ms", "s", "1/s", "count", "ops/s", "MB", "%", "s/op"):
            self.assertTrue(stats.valid_unit(ok), ok)
        self.assertFalse(stats.valid_unit("seconds per op"))

    def test_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        import run
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(run.WORKLOADS))
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        self.assertEqual(e2e["setup_s"], "s")
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        # every declared metric is one the run prints, with the same unit
        self.assertEqual(e2e, {k: u for k, (_, u) in run.end_to_end(FAKE_RESULT).items()})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, dict(run.PER_LAYER))


FAKE_RESULT = {
    "setup_s": 5.0, "session_s": 2.0, "heap_live_end_mb": 90.0,
    "measure_start": 0.0, "measure_end": 2000.0, "cores": 4, "tasks": [],
    "ops": [{"id": 1, "name": "q", "latency": 0.5, "traced": True},
            {"id": 2, "name": "q", "latency": 0.3, "traced": False}],
    "spans": [{"op": 1, "name": "op", "start": 0.0, "end": 500.0, "parent": ""},
              {"op": 1, "name": "exec", "start": 100.0, "end": 400.0, "parent": "op"}],
}


class FailFrac(unittest.TestCase):
    def test_wrong_hash_or_exception_counts(self):
        ok = {"ok": True, "error": ""}
        wrong_hash = {"ok": False, "error": ""}
        threw = {"ok": False, "error": "java.lang.RuntimeException: boom"}
        self.assertEqual(stats.fail_frac([ok, ok]), 0.0)
        self.assertEqual(stats.fail_frac([ok, wrong_hash]), 0.5)
        self.assertEqual(stats.fail_frac([ok, threw, wrong_hash, ok]), 0.5)
        with self.assertRaises(ValueError):
            stats.fail_frac([])

    def test_check_ops_marks_wrong_hash(self):
        import run
        refs = {"q": {"md5": "abc", "rows": 2, "cols": "a,b"}, "r": {"error": "oracle error: x"}}
        result = {"ops": [
            {"name": "q", "error": "", "rows": 2, "cols": "a,b", "md5": "abc"},
            {"name": "q", "error": "", "rows": 2, "cols": "a,b", "md5": "abd"},
            {"name": "q", "error": "", "rows": 3, "cols": "a,b", "md5": "abc"},
            {"name": "q", "error": "boom", "rows": -1, "cols": "", "md5": ""},
            {"name": "r", "error": "", "rows": 1, "cols": "a", "md5": "x"}]}
        bad = run.check_ops(result, "llm-pipeline", refs, None, {})
        self.assertEqual(len(bad), 4)
        self.assertEqual([o["ok"] for o in result["ops"]], [True, False, False, False, False])
        self.assertEqual(stats.fail_frac(result["ops"]), 0.8)


class SelfTime(unittest.TestCase):
    def span(self, name, start, end, parent, op=1):
        return {"op": op, "name": name, "start": start, "end": end, "parent": parent}

    def test_children_subtracted(self):
        spans = [self.span("op", 0, 1000, ""),
                 self.span("construct", 0, 300, "op"),
                 self.span("analysis", 100, 250, "construct"),
                 self.span("exec", 300, 900, "op"),
                 self.span("planning", 300, 350, "exec")]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["op"], 0.1)
        self.assertAlmostEqual(s["construct"], 0.15)
        self.assertAlmostEqual(s["analysis"], 0.15)
        self.assertAlmostEqual(s["exec"], 0.55)
        self.assertAlmostEqual(sum(s.values()), 1.0)

    def test_overlapping_children_counted_once_and_clipped(self):
        spans = [self.span("p", 100, 200, "op"),
                 self.span("c", 50, 150, "p"),
                 self.span("c", 120, 180, "p")]
        self.assertAlmostEqual(stats.self_times(spans)["p"], 0.02)

    def test_ops_kept_apart(self):
        spans = [self.span("exec", 0, 100, "op", op=1),
                 self.span("catalyst", 0, 100, "exec", op=2)]
        self.assertAlmostEqual(stats.self_times(spans)["exec"], 0.1)

    def test_covered(self):
        self.assertEqual(stats.covered([(0, 10), (5, 20), (30, 40)], 0, 35), 25)
        self.assertEqual(stats.covered([], 0, 5), 0)


if __name__ == "__main__":
    unittest.main()
