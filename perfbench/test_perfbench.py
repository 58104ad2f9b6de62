"""The benchmark's own tests.

  python3 perfbench/test_perfbench.py

The unit tests exercise report.py on planted result files. PlantedJvmRun
builds the harness and runs the planted `selftest` workload through
run.py end to end (about a minute on four cores)."""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import report  # noqa: E402


def result(ops, digests, **kw):
    r = {"ops": ops, "digests": digests, "setup_s": [3.0, 1.0, 1.2],
         "window_s": 2.0, "peak_rss_mb": 900.0, "retained_heap_mb": 80.0,
         "storage_left_bytes": 0}
    r.update(kw)
    return r


def op(i, key, ms, kind="query", error=None, family=None):
    return {"id": i, "key": key, "family": family or key.split("#")[0],
            "kind": kind, "tag": "", "ms": ms, "error": error,
            "cached_bytes": 0, "persisted_rdds": 0}


GOOD = "result=struct<id:bigint>|100|abc"


class Failures(unittest.TestCase):
    def test_thrown_op_counts_as_failed_and_contributes_no_time(self):
        ops = [op(0, "a", 10.0), op(1, "a", 12.0),
               op(2, "b", 9e9, error="IllegalStateException: planted")]
        r = result(ops, {"a": GOOD})
        judged, _ = report.judge(r, {"a": GOOD, "b": GOOD})
        self.assertEqual([bool(o["failed"]) for o in judged], [False, False, True])
        m, extra = report.end_to_end(r, judged)
        self.assertAlmostEqual(m["query_p50_ms"], 11.0)
        self.assertEqual(extra["query_n"], 2)
        self.assertAlmostEqual(m["ops_per_s"], 1.0)
        self.assertAlmostEqual(extra["failed_frac"], 1 / 3)

    def test_wrong_result_is_caught_by_the_digest(self):
        ops = [op(0, "a", 10.0), op(1, "w", 1.0), op(2, "w", 1.0)]
        r = result(ops, {"a": GOOD, "w": "result=struct<id:bigint>|101|def"})
        judged, bad = report.judge(r, {"a": GOOD, "w": GOOD})
        self.assertEqual(bad, {"w": "digest mismatch"})
        self.assertEqual([bool(o["failed"]) for o in judged], [False, True, True])
        m, _ = report.end_to_end(r, judged)
        self.assertAlmostEqual(m["query_p50_ms"], 10.0)

    def test_missing_golden_and_digest_errors_fail(self):
        ops = [op(0, "x", 1.0), op(1, "y", 1.0), op(2, "z", 1.0)]
        r = result(ops, {"x": GOOD, "y": "ERROR RuntimeException: boom"})
        judged, bad = report.judge(r, {"y": GOOD})
        self.assertEqual(bad["x"], "no golden digest")
        self.assertTrue(bad["y"].startswith("ERROR"))
        self.assertEqual(judged[2]["failed"], "no digest taken")

    def test_writes_are_judged_by_the_state_they_leave(self):
        ops = [op(0, "build", 5.0, kind="write"), op(1, "q", 1.0)]
        ok = result(ops, {"q": GOOD, "state:t": GOOD})
        judged, _ = report.judge(ok, {"q": GOOD, "state:t": GOOD})
        self.assertFalse(judged[0]["failed"])
        broken = result(ops, {"q": GOOD, "state:t": "result=struct<id:bigint>|0|0"})
        judged, _ = report.judge(broken, {"q": GOOD, "state:t": GOOD})
        self.assertTrue(judged[0]["failed"])
        self.assertFalse(judged[1]["failed"])


class Tail(unittest.TestCase):
    def test_level_is_the_highest_with_ten_samples_beyond(self):
        cases = {5: None, 19: None, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0,
                 100: 90.0, 199: 90.0, 200: 95.0, 999: 95.0, 1000: 99.0,
                 10000: 99.9}
        for n, level in cases.items():
            self.assertEqual(report.tail_level(n), level, n)

    def test_percentile_is_a_smooth_quantile_estimate(self):
        xs = list(range(1, 41))
        self.assertAlmostEqual(report.percentile(xs, 50), 20.5)
        self.assertAlmostEqual(report.percentile(xs, 75), 30.75, delta=0.3)
        self.assertAlmostEqual(report.percentile([7.0] * 30, 90), 7.0)
        # two clusters with a gap at the p75 rank: the estimate moves
        # little when the boundary sample moves across the gap
        lo = [100.0] * 30 + [400.0] * 10
        hi = [100.0] * 29 + [400.0] * 11
        self.assertLess(report.percentile(hi, 75) - report.percentile(lo, 75), 100.0)


class SelfTimes(unittest.TestCase):
    # op 0: op[0,100] > catalog[0,30], planner[30,50] > catalyst.analysis[30,35],
    # exec[50,95] > codegen[50,60]; then cleanup[100,104] and trace[104,105]
    SPANS = [
        ["op", 0, 100, -1, 0],
        ["catalog", 0, 30, 0, 0],
        ["planner", 30, 50, 0, 0],
        ["catalyst.analysis", 30, 35, 2, 0],
        ["exec", 50, 95, 0, 0],
        ["codegen", 50, 60, 4, 0],
        ["cleanup", 100, 104, -1, 0],
        ["trace", 104, 105, -1, 0],
    ]

    def test_self_time_is_duration_minus_children(self):
        self.assertEqual(report.self_times(self.SPANS), [5, 30, 15, 5, 35, 10, 4, 1])

    def test_layer_self_times_sum_back_to_the_traced_wall(self):
        tot = report.layer_totals(self.SPANS)
        self.assertAlmostEqual(sum(tot.values()), 105 / 1e6)
        self.assertAlmostEqual(tot["unattributed"], 5 / 1e6)
        self.assertAlmostEqual(tot["storage"], 4 / 1e6)


class PlantedJvmRun(unittest.TestCase):
    """The planted ops through the real harness: the throwing op and the
    op with a wrong golden are failed and untimed; the good op is timed."""

    def test_planted_ops(self):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"] * 3, res["attempted"] * 2)
        self.assertIn("FAILED op throws", out.stdout)
        self.assertIn("FAILED digest wrong: digest mismatch", out.stdout)
        raw = os.path.join(os.path.dirname(HERE), ".bench_build", "results",
                           "selftest.trace0.json")
        with open(raw) as fh:
            r = json.load(fh)
        thrown = [o for o in r["ops"] if o["key"] == "throws"]
        self.assertTrue(thrown and all(o["error"] for o in thrown))
        m = res["metrics"]
        ok_ms = sorted(o["ms"] for o in r["ops"] if o["key"] == "ok")
        self.assertAlmostEqual(m["query_p50_ms"]["value"], report.percentile(ok_ms, 50))


if __name__ == "__main__":
    unittest.main()
