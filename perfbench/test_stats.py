"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def raw_run(lookups, files, ops):
    """A minimal raw JVM record of a tail run."""
    return {
        "values": {"rss_peak_mb": 100.0, "base_load_s": 2.0},
        "samples": {"feed_gen_s": [1.0, 3.0, 2.0], "oracle_s": [1.0],
                    "ingest_eps": [10.0],
                    "ingest_applied_eps": [11.0], "mirror_s": [1.0],
                    "write_bytes_per_event": [50.0],
                    "lookup_ms": [float(i) for i in range(lookups)]},
        "files": files, "ops": ops, "failures": [],
    }


class MedianTest(unittest.TestCase):
    def test_even_count_averages_middle_two(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_odd_count_takes_middle(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)


class PercentileTest(unittest.TestCase):
    def test_p90_of_100_has_ten_beyond(self):
        xs = list(range(1, 101))
        p = stats.percentile(xs, 0.9)
        self.assertEqual(p, 90)
        self.assertEqual(len([x for x in xs if x > p]), 10)

    def test_p90_refused_below_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)

    def test_tail_run_short_of_lookups_fails(self):
        files = [(i, i, i + 1.0) for i in range(100)]
        e2e, support, _, attempted, failed = run.end_to_end(
            "tail_mixed", raw_run(50, files, {"epoch": [10, 0]}), 1.0)
        self.assertFalse(support["lookup_ms_p90"])
        self.assertEqual((attempted, failed), (11, 1))
        self.assertLess(e2e["ok_ratio"], 1.0)


class FailedRatioTest(unittest.TestCase):
    def test_refused_and_failed_ops_count(self):
        # a lookup that threw (refused) and a mismatching oracle check
        # (failed) are both attempted and both failed
        ops = {"lookup": [120, 1], "oracle_check": [3, 1], "epoch": [30, 0]}
        self.assertEqual(stats.tally(ops), (153, 2))
        self.assertAlmostEqual(stats.ok_ratio(153, 2), 151 / 153)

    def test_failures_reach_the_reported_ratio(self):
        files = [(i, i, i + 1.0) for i in range(100)]
        e2e, _, _, attempted, failed = run.end_to_end(
            "tail_mixed", raw_run(120, files, {"lookup": [120, 3]}), 1.0)
        self.assertEqual((attempted, failed), (120, 3))
        self.assertAlmostEqual(e2e["ok_ratio"], 117 / 120)


class FreshnessTest(unittest.TestCase):
    def test_measured_from_due_time(self):
        # due at 0, landed 2 s late, committed at 3: the lander's delay is
        # charged to the file
        self.assertEqual(stats.freshness([(0.0, 2.0, 3.0)]), [3.0])
        self.assertEqual(stats.lateness_ms([(0.0, 2.0, 3.0)]), [2000.0])

    def test_run_reports_due_based_freshness(self):
        files = [(float(i), i + 0.5, i + 1.0) for i in range(100)]
        e2e, _, _, _, _ = run.end_to_end(
            "tail_mixed", raw_run(120, files, {"epoch": [10, 0]}), 1.0)
        self.assertEqual(e2e["freshness_s_p50"], 1.0)


class CompareTest(unittest.TestCase):
    def test_refuses_other_host(self):
        a = {"host": {"nproc": 4, "mem_total_kb": 1, "dev_shm_bytes": 1,
                      "java": "17", "spark": "4.1.2"}}
        b = dict(a, host=dict(a["host"], nproc=32))
        with self.assertRaises(compare.HostMismatch):
            compare.check_hosts([a], [b])

    def test_refuses_record_without_fingerprint(self):
        a = {"host": {"nproc": 4}}
        with self.assertRaises(compare.HostMismatch):
            compare.check_hosts([a], [{"cdc": {"cpus": 32}}])


if __name__ == "__main__":
    unittest.main()
