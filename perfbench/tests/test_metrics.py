"""Tests for the benchmark's statistics: run with
`python3 -m unittest discover -s perfbench/tests` from the repository root."""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0.0), 1.0)
        self.assertEqual(metrics.percentile(xs, 1.0), 4.0)
        self.assertEqual(metrics.percentile(xs, 0.5), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 3.7)

    def test_single_sample(self):
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_median_matches_statistics(self):
        xs = [5.0, 1.0, 9.0, 2.0, 8.0, 3.0]
        self.assertEqual(metrics.percentile(xs, 0.5), statistics.median(xs))


class TailTest(unittest.TestCase):
    def test_hundred_samples_leave_ten_beyond_p90(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(metrics.tail_count(xs, 0.9), 10)

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        self.assertEqual(metrics.tail_count([1.0] * 50, 0.9), 0)


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "op": "q",
            "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 60)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 30 - 10)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 20, 50), span(2, 1, 10, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 30 - 10)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 10)


def fake_result():
    """A harness result with one untraced and one traced pass."""
    t = 1_000_000_000
    return {
        "setup_s": [20.0, 4.0], "fixture_build_s": {"lrModel": 0.5},
        "untraced_wall_s": 2.0, "traced_wall_s": 2.5,
        "op_rows": {"q": 100.0, "engine_roundtrip": 50.0},
        "samples": [{"op": "q", "s": 1.0, "ok": True, "pass": 0},
                    {"op": "engine_roundtrip", "s": 1.0, "ok": True, "pass": 0}],
        "traced_samples": [{"op": "q", "s": 1.2, "ok": True, "pass": 1},
                           {"op": "engine_roundtrip", "s": 1.3, "ok": True, "pass": 1}],
        "rss_hwm_kb": 1024.0 * 900, "jvm_gc_s": 1.0, "jvm_jit_s": 9.0,
        "old_gen_peak_b": 300 * (1 << 20),
        "save_bytes": 1400.0, "save_files": 10.0, "save_rows": 100.0,
        "layers": [{"jobs": {"construct": 2, "exec": 1, "io.save": 3},
                    "stages": {"exec": 2},
                    "tasks": [{"layer": "exec", "stage": 1,
                               "durations_ms": [100.0, 100.0, 300.0],
                               "shuffle_read": 0, "shuffle_write": 1 << 20,
                               "spill": 0, "failed": 0}],
                    "batches": [{"ms": 200.0, "rows": 10.0}]}],
        "spans": [span(1, 0, 0, 12 * t // 10, "op"), span(2, 1, 0, t // 10, "construct"),
                  span(3, 1, t // 10, 2 * t // 10, "plan"),
                  span(4, 1, 2 * t // 10, t, "exec")],
    }


class MetricSetTest(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        root = os.path.join(os.path.dirname(__file__), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        res = fake_result()
        cls.e2e = metrics.end_to_end(res)
        cls.layers = metrics.per_layer(res, res["spans"])

    def test_names_and_units_match(self):
        for key, got in (("end_to_end", self.e2e), ("per_layer", self.layers)):
            declared = {m["name"]: m["unit"] for m in self.bench[key]}
            self.assertEqual(declared, {k: u for k, (_, u) in got.items()})

    def test_pass_throughput_is_a_median_over_passes(self):
        res = fake_result()
        res["samples"] = [{"op": "q", "s": s, "ok": ok, "pass": p}
                          for s, ok, p in ((1.0, True, 0), (2.0, True, 2),
                                           (4.0, True, 4), (1.0, False, 6))]
        self.assertEqual(metrics.pass_throughputs(res), [100.0, 50.0, 25.0, 0.0])
        self.assertEqual(metrics.end_to_end(res)["rows_per_s"][0], 37.5)

    def test_end_to_end_values(self):
        self.assertEqual(self.e2e["setup_s"][0], 12.0)
        self.assertEqual(self.e2e["rows_per_s"][0], 75.0)
        self.assertAlmostEqual(self.e2e["peak_rss_mb"][0], 900.0)

    def test_layer_values(self):
        lay = {k: v for k, (v, _) in self.layers.items()}
        self.assertEqual(lay["entry.construct_jobs"], 2)
        self.assertAlmostEqual(lay["exec.wall_s"], 0.8)
        self.assertAlmostEqual(lay["exec.core_util"], 0.5 / (4 * 0.8))
        self.assertEqual(lay["exec.task_skew"], 3.0)
        self.assertEqual(lay["io.stored_bytes_per_row"], 14.0)
        self.assertAlmostEqual(lay["jvm.old_gen_peak_mb"], 300.0)
        self.assertAlmostEqual(lay["trace.op_self_s"], 0.2 / 2)
        self.assertAlmostEqual(lay["trace.overhead"], (150 / 2.5) / (150 / 2.0))


if __name__ == "__main__":
    unittest.main()
