"""The comparison rules of compare.py and the self-time sum of layers.py."""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import compare  # noqa: E402
import layers  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "latency_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "qps", "unit": "1/s", "better": "higher", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}

PARENT = [100, 101, 99, 102, 98, 100, 101, 99, 100, 100]


class JudgeTest(unittest.TestCase):
    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_iqr(self):
        change = [x - 10 for x in PARENT]
        self.assertEqual(compare.judge(PARENT, change, "lower", 0.1)["verdict"], "gain")
        # nine wins out of ten still counts
        change[0] = PARENT[0] + 1
        self.assertEqual(compare.judge(PARENT, change, "lower", 0.1)["verdict"], "gain")
        # eight do not
        change[1] = PARENT[1] + 1
        self.assertNotEqual(compare.judge(PARENT, change, "lower", 0.1)["verdict"], "gain")

    def test_wins_inside_the_parent_spread_are_no_gain(self):
        change = [x - 0.5 for x in PARENT]
        j = compare.judge(PARENT, change, "lower", 0.1)
        self.assertEqual(j["wins"], 10)
        self.assertEqual(j["verdict"], "same")

    def test_direction_higher(self):
        change = [x + 20 for x in PARENT]
        self.assertEqual(compare.judge(PARENT, change, "higher", 0.1)["verdict"], "gain")
        self.assertEqual(compare.judge(PARENT, change, "lower", 0.1)["verdict"], "regression")

    def test_regression_beyond_the_bound(self):
        self.assertEqual(compare.judge(PARENT, [x * 1.05 for x in PARENT], "lower", 0.1)
                         ["verdict"], "same")
        self.assertEqual(compare.judge(PARENT, [x * 1.2 for x in PARENT], "lower", 0.1)
                         ["verdict"], "regression")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [x * 1.2 for x in noisy]
        self.assertEqual(compare.judge(noisy, change, "lower", 0.1)["verdict"], "unresolved")


class FilesTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def side(self, name, latency, qps, failed=0):
        d = os.path.join(self.tmp.name, name)
        os.makedirs(d)
        for seed, (lat, q) in enumerate(zip(latency, qps)):
            for w in ("serve", "build"):
                bad = failed if seed == 0 else 0
                line = {"correct": not bad, "attempted": 1, "failed": bad, "metrics": {
                    "latency_ms": {"value": lat, "unit": "ms"},
                    "qps": {"value": q, "unit": "1/s"},
                    "setup_s": {"value": 1.0 + seed / 100, "unit": "s"}}}
                with open(os.path.join(d, f"{w}-{seed}.json"), "w") as f:
                    f.write("log line\n" + json.dumps(line) + "\n")
        return d

    def test_diff_prints_one_row_per_workload(self):
        p = self.side("parent", PARENT, PARENT)
        c = self.side("change", [x * 0.8 for x in PARENT], [x * 0.8 for x in PARENT])
        rows, regressed = compare.diff(p, c, SPEC)
        self.assertEqual(len(rows), 2)
        self.assertTrue(rows[0].startswith("build [10 pairs, failed ops 0->0]"))
        self.assertIn("latency_ms", rows[0])
        self.assertIn("gain", rows[0])
        self.assertIn("regression", rows[0])
        self.assertTrue(regressed)

    def test_a_change_that_fails_more_operations_gains_nothing(self):
        p = self.side("parent", PARENT, PARENT)
        c = self.side("change", [x * 0.8 for x in PARENT], [x * 1.2 for x in PARENT],
                      failed=1)
        rows, bad = compare.diff(p, c, SPEC)
        self.assertTrue(bad)
        self.assertIn("failed ops 0->1", rows[0])
        self.assertNotIn("gain", rows[0])
        self.assertIn("latency_ms (10/10 pairs) failed", rows[0])

    def test_a_run_without_a_result_line_is_a_failed_pair(self):
        p = self.side("parent", PARENT, PARENT)
        c = self.side("change", [x * 0.8 for x in PARENT], [x * 1.2 for x in PARENT])
        with open(os.path.join(c, "serve-3.json"), "w") as f:
            f.write("perfbench: harness exited 1\n")
        rows, bad = compare.diff(p, c, SPEC)
        self.assertTrue(bad)
        self.assertIn("gain", rows[0])
        self.assertTrue(rows[1].startswith("serve [10 pairs, failed ops 0->1]"))
        self.assertNotIn("gain", rows[1])

    def test_spread_flags_only_wide_metrics(self):
        d = self.side("runs", PARENT, [50, 150, 60, 140, 70, 130, 80, 120, 90, 110])
        rows, outside = compare.spread(d, SPEC)
        self.assertTrue(outside)
        self.assertTrue(any("qps" in r and "OUTSIDE" in r for r in rows))
        self.assertTrue(any("latency_ms" in r and r.endswith(" ok") for r in rows))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        ms = 1_000_000
        spans = [
            {"id": 0, "name": "client.ivf", "start_ns": 0, "end_ns": 100 * ms, "parent": -1},
            {"id": 1, "name": "operators.plan_build", "start_ns": 0, "end_ns": 30 * ms,
             "parent": 0},
            {"id": 2, "name": "exec.action", "start_ns": 30 * ms, "end_ns": 90 * ms,
             "parent": 0},
            {"id": 3, "name": "sources.open", "start_ns": 40 * ms, "end_ns": 50 * ms,
             "parent": 2},
        ]
        t = layers.self_times(spans)
        self.assertAlmostEqual(t["client"], 10.0)
        self.assertAlmostEqual(t["operators"], 30.0)
        self.assertAlmostEqual(t["exec"], 50.0)
        self.assertAlmostEqual(t["sources"], 10.0)
        self.assertAlmostEqual(sum(t.values()), 100.0)


if __name__ == "__main__":
    unittest.main()
