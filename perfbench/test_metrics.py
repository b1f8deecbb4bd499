"""Tests of the benchmark's arithmetic (metrics.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def call(id_, kind="solve", wall=1.0, start=0.0, traced=True, before=0, after=0, **attrs):
    return {"id": id_, "kind": kind, "wall_s": wall, "cpu_s": wall, "start_ms": start,
            "end_ms": start + wall * 1000.0, "traced": traced, "ok": True, "error": "",
            "rdds_before": before, "rdds_after": after, "attrs": attrs}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail([1.0] * 10))
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_twenty_samples_is_the_median_rank(self):
        value, pct, n = metrics.tail(list(range(20, 0, -1)))
        self.assertEqual((value, pct, n), (10, 50.0, 20))

    def test_percentile_rises_with_samples(self):
        value, pct, n = metrics.tail([float(x) for x in range(1000)])
        self.assertEqual((value, pct, n), (989.0, 99.0, 1000))
        self.assertEqual(metrics.tail(range(110))[:2], (99, 100.0 * 100 / 110))

    def test_count_is_printed_with_the_tail(self):
        record = {"workload": "ap_n200_dense", "setup_s": [1.0, 2.0, 3.0], "facts": {},
                  "calls": [call(f"c{i}", wall=float(i), iterations=20) for i in range(12)]}
        d = metrics.detail(record)
        self.assertEqual(d["solve_s.tail"], (1.0, "s", 12, 100.0 * 2 / 12))
        self.assertEqual(d["solve_s.p50"], (5.5, "s", 12))
        self.assertEqual(d["setup_s"], (2.0, "s", 3))


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_the_call(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_time_is_wall_minus_jobs(self):
        record = {"calls": [call("a", wall=2.0, start=1000.0)],
                  "jobs": [{"group": "a", "start_ms": 1100.0, "end_ms": 1600.0},
                           {"group": "a", "start_ms": 1400.0, "end_ms": 1900.0},
                           {"group": "b", "start_ms": 1000.0, "end_ms": 3000.0}],
                  "stages": [{"group": "a", "tasks": 4, "shuffle_write_bytes": 10,
                              "output_bytes": 0}]}
        layer = metrics.spark_layer(record)["a"]
        self.assertAlmostEqual(layer["in_job_s"], 0.8)
        self.assertAlmostEqual(layer["driver_s"], 1.2)
        self.assertEqual((layer["jobs"], layer["stages"], layer["tasks"]), (2, 1, 4))


class LeakTest(unittest.TestCase):
    def test_steady_state_is_zero(self):
        calls = [call("a", before=1, after=1), call("b", before=1, after=1)]
        self.assertEqual(metrics.leak_delta(calls), (0, None))

    def test_growth_names_the_call(self):
        calls = [call("a", before=0, after=1), call("b", before=1, after=4),
                 call("c", before=4, after=3)]
        self.assertEqual(metrics.leak_delta(calls), (3, "b"))


class ResultTest(unittest.TestCase):
    def test_end_to_end_cycle_sums_kind_medians(self):
        calls = ([call(f"b{i}", "batch", wall=w) for i, w in enumerate([4.0, 6.0])]
                 + [call(f"s{i}", "search", wall=w) for i, w in enumerate([1.0, 2.0, 3.0])]
                 + [call("c0", "compact", wall=2.0)])
        e2e = metrics.end_to_end({"workload": "vector_store", "setup_s": [9.0, 5.0, 6.0],
                                  "calls": calls})
        self.assertEqual(e2e, {"setup_s": (6.0, "s"), "cycle_s": (2 * 5.0 + 6 * 2.0 + 2.0, "s"),
                               "op_s.p50": (2.0, "s")})

    def test_missing_kind_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end({"workload": "vector_store", "setup_s": [1.0],
                                "calls": [call("b0", "batch")]})

    def test_per_layer_has_every_name(self):
        record = {"workload": "ap_n200_dense", "facts": {}, "spans": [], "jobs": [],
                  "stages": [], "calls": [call("a", iterations=20),
                                          call("b", traced=False, iterations=20)]}
        got = metrics.per_layer(record)
        self.assertEqual(list(got), [name for name, _ in metrics.PER_LAYER])
        self.assertEqual(got["ap.iterations"], (20.0, "count"))
        self.assertEqual(got["ingest.jobs_per_batch"], (0.0, "count"))


if __name__ == "__main__":
    unittest.main()
