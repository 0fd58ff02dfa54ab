"""Tests of the benchmark's own arithmetic and output format.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(stats.percentile([10, 20], 90), 19.0)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(40), 75.0)
        # too few samples for any tail: the median is reported
        self.assertEqual(stats.tail_percentile(12), 50.0)
        for n in (20, 37, 100, 250):
            s = stats.summarize(list(range(n)))
            self.assertGreaterEqual(s["beyond"], 10, n)
            self.assertEqual(s["n"], n)

    def test_summary_prints_its_count(self):
        s = stats.summarize([float(x) for x in range(200)])
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["beyond"], 20)
        self.assertAlmostEqual(s["p50"], 99.5)

    def test_quartile_spread(self):
        vals = [10.0, 10.0, 10.0, 10.0, 10.0]
        self.assertEqual(stats.quartile_spread(vals), 0.0)
        self.assertGreater(stats.quartile_spread([9.0, 10.0, 11.0, 12.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_and_overlapping_children_count_once(self):
        # children [1,3] and [2,5] overlap: they cover [1,5] = 4
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(1, 2), (4, 6), (8, 9)]), 6)

    def test_children_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(stats.self_time((0, 10), [(20, 30)]), 10)

    def test_nested_spans(self):
        # op [0,100] > job [10,60] > stage [20,50]: the op's self time
        # excludes the job, the job's excludes the stage
        op, job, stage = (0, 100), (10, 60), (20, 50)
        self.assertEqual(stats.self_time(op, [job]), 50)
        self.assertEqual(stats.self_time(job, [stage]), 20)
        self.assertEqual(stats.self_time(stage, []), 30)


class MetricLines(unittest.TestCase):
    def test_metric_line_round_trip(self):
        line = stats.metric_line("req_p50_ms", 12.5, "ms", 42, "beyond=10")
        self.assertEqual(stats.parse_metric_line(line), ("req_p50_ms", 12.5, "ms", 42))
        self.assertEqual(stats.parse_metric_line(stats.metric_line("setup_s", 3.25, "s")),
                         ("setup_s", 3.25, "s", None))

    def test_rejects_other_lines(self):
        with self.assertRaises(ValueError):
            stats.parse_metric_line("host_load samples=3")

    def test_result_object_is_the_last_line(self):
        out = "\n".join([
            stats.metric_line("setup_s", 1.5, "s"),
            stats.result_object(True, 10, 0, {"setup_s": (1.5, "s"),
                                              "latency_p50_ms": (2.0, "ms")}),
        ])
        obj = stats.parse_result(out + "\n")
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 1.5, "unit": "s"})
        self.assertIs(obj["correct"], True)

    def test_benchmark_json_names_what_the_runner_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         [(n, u) for n, u, _ in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         list(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
