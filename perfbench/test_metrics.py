"""Self-tests of the benchmark's helpers: python3 -m unittest discover perfbench"""

import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.0), 1)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 1.0), 4)
        self.assertAlmostEqual(metrics.percentile(range(101), 0.99), 99.0)

    def test_single_sample(self):
        self.assertEqual(metrics.percentile([7.5], 0.99), 7.5)

    def test_empty_sample_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_tail_counts_ranks_not_distinct_values(self):
        # 2000 samples whose top 5% is one repeated value: 20 rank beyond p99
        values = [1.0] * 1900 + [9.0] * 100
        self.assertEqual(metrics.tail_count(values, 0.99), 20)
        self.assertEqual(metrics.tail_count(list(range(1000)), 0.99), 10)
        self.assertLess(metrics.tail_count(list(range(900)), 0.99), metrics.MIN_TAIL)
        self.assertEqual(metrics.tail_count([], 0.99), 0)


class LatenessTest(unittest.TestCase):
    def test_lateness_is_landed_minus_due_and_never_negative(self):
        self.assertEqual(metrics.lateness([100, 200, 300], [103, 200, 299]), [3, 0, 0])

    def test_mismatched_ticks_raise(self):
        with self.assertRaises(ValueError):
            metrics.lateness([1, 2], [1])


class PinTest(unittest.TestCase):
    PINS = {"q1": {"rows": 3, "fp": "10:20"}, "approx": {"rows": 5, "fp": "1:1"}}

    def run_of(self, name, rows, fp, error=None):
        return {"name": name, "rows": rows, "fp": fp, "error": error}

    def test_matching_runs_pass(self):
        runs = [self.run_of("q1", 3, "10:20"), self.run_of("q1", 3, "10:20")]
        self.assertEqual(metrics.compare_pins(runs, self.PINS, set()), [])

    def test_each_kind_of_mismatch_fails(self):
        runs = [self.run_of("q1", 4, "10:20"), self.run_of("q1", 3, "10:21"),
                self.run_of("q1", -1, "", error="boom"), self.run_of("new", 1, "1:2")]
        failures = metrics.compare_pins(runs, self.PINS, set())
        self.assertEqual(len(failures), 4)
        self.assertIn("rows", failures[0])
        self.assertIn("fingerprint", failures[1])
        self.assertIn("boom", failures[2])
        self.assertIn("no pinned output", failures[3])

    def test_row_count_only_queries_ignore_the_fingerprint(self):
        runs = [self.run_of("approx", 5, "9:9"), self.run_of("approx", 6, "1:1")]
        failures = metrics.compare_pins(runs, self.PINS, {"approx"})
        self.assertEqual(failures, ["approx: 6 rows, pinned 5"])


class BatchMetricsTest(unittest.TestCase):
    def query(self, name, wall, pass_no, steal=0.0):
        return {"name": name, "module": "ops", "pass": pass_no, "wall_s": wall,
                "build_s": wall / 4, "plan_s": wall / 4, "exec_s": wall / 2,
                "tracker_plan_s": 0.01, "memo_builds": 1, "rows": 3, "fp": "10:20",
                "error": None, "exec": {}, "codegen": {}, "steal_s": steal}

    def test_pass_is_the_sum_of_the_queries_median_walls(self):
        walls = {"q1": [2.0, 1.0, 3.0], "q2": [0.5, 0.7, 0.6]}
        passes = [{"wall_s": walls["q1"][i] + walls["q2"][i],
                   "queries": [self.query("q1", walls["q1"][i], i),
                               self.query("q2", walls["q2"][i], i, steal=0.1 * i)]}
                  for i in range(3)]
        raw = {"passes": passes, "warm": [], "row_count_only": [], "input_rows": 100,
               "setup": {"total_s": 5.0}}
        pins = {"q1": {"rows": 3, "fp": "10:20"}, "q2": {"rows": 3, "fp": "10:20"}}
        e2e, layer, attempted, failed, _ = metrics.batch_metrics(raw, pins, cores=4)
        self.assertAlmostEqual(e2e["pass_s"], 2.6)
        self.assertAlmostEqual(e2e["catchup_eps"], 100 / 2.6)
        self.assertAlmostEqual(e2e["latency_p50_s"], 1.3)
        self.assertAlmostEqual(e2e["latency_p99_s"], 0.6 + 1.4 * 0.99)
        self.assertEqual((attempted, failed), (6, 0))
        self.assertEqual(layer["trace.layer_gap_max"], 0.0)
        self.assertEqual(layer["ops.wall_s"], (6.0 + 1.8) / 3)
        self.assertAlmostEqual(layer["host.steal_s"], 0.1)


class StreamMetricsTest(unittest.TestCase):
    def test_catchup_is_the_median_drain_and_latency_needs_a_tail(self):
        raw = {"latencies_ms": [float(i) for i in range(1000)],
               "drains": [{"events": 8000, "wall_s": w} for w in (4.0, 9.0, 5.0)],
               "setup": {"total_s": 20.0}, "microbatches": [], "exec": {},
               "measured_s": 30.0, "kept_frac": 0.7, "gen_due_ms": [0, 250],
               "gen_landed_ms": [2, 250], "backlog_end": 0, "codegen": {},
               "attempted": 24000, "failed": 0, "failures": [], "steal_s": 0.5}
        e2e, layer, attempted, failed, _ = metrics.stream_metrics(raw, cores=4)
        self.assertEqual(e2e["pass_s"], 5.0)
        self.assertEqual(e2e["catchup_eps"], 1600.0)
        self.assertAlmostEqual(e2e["latency_p99_s"], 0.98901)
        self.assertEqual(layer["gen.late_ms_p99"], 1.98)
        self.assertEqual(layer["host.steal_s"], 0.5)
        raw["latencies_ms"] = raw["latencies_ms"][:900]
        with self.assertRaises(ValueError):
            metrics.stream_metrics(raw, cores=4)


if __name__ == "__main__":
    unittest.main()
