"""Self-tests of the benchmark's arithmetic and correctness gate. No
Spark needed:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

from check import (distinct_keys, expected_report, frame_problems,  # noqa: E402
                   report_problems)
from spans import (Tracer, driver_seconds, median, overhead,  # noqa: E402
                   self_seconds, slope, tail_percentile, union_seconds)


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(tail_percentile(range(1, 101)), (90.0, 90))
        self.assertEqual(tail_percentile(range(1, 1001)), (99.0, 990))
        self.assertEqual(tail_percentile(range(1, 41))[0], 75.0)
        self.assertEqual(tail_percentile(range(1, 21)), (50.0, 10))

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(tail_percentile([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(tail_percentile(range(19)), (100.0, 18))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(tail_percentile(xs), tail_percentile(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(union_seconds([(1, 3), (2, 4), (6, 7)]), 4)
        self.assertEqual(union_seconds([]), 0)
        self.assertEqual(union_seconds([(5, 5), (2, 1)]), 0)

    def test_driver_time_is_wall_minus_job_union(self):
        # jobs cover [1,4] and [8,10] of the span [0,10]
        self.assertEqual(driver_seconds(0, 10, [(1, 3), (2, 4), (8, 12)], []), 5)

    def test_driver_time_leaves_child_spans_out(self):
        # child [3,9]: self wall 4; own jobs inside the self part: [1,3] and [9,10]
        self.assertEqual(driver_seconds(0, 10, [(1, 3), (2, 4), (8, 12)], [(3, 9)]), 1)

    def test_self_time_subtracts_children_once(self):
        self.assertEqual(self_seconds(0, 10, [(1, 4), (3, 5), (9, 12)]), 5)
        self.assertEqual(self_seconds(0, 10, []), 10)


class Arithmetic(unittest.TestCase):
    def test_overhead_is_traced_minus_untraced(self):
        d = overhead({"op_p50_s": 1.2, "rows_per_s": 90.0, "x": 1},
                     {"op_p50_s": 1.0, "rows_per_s": 100.0})
        self.assertAlmostEqual(d["op_p50_s"]["delta"], 0.2)
        self.assertAlmostEqual(d["op_p50_s"]["share"], 0.2)
        self.assertAlmostEqual(d["rows_per_s"]["share"], -0.1)
        self.assertNotIn("x", d)

    def test_median_and_slope(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)
        self.assertAlmostEqual(slope([0, 1, 2, 3], [1.0, 1.5, 2.0, 2.5]), 0.5)
        self.assertEqual(slope([0], [1.0]), 0.0)

    def test_untraced_span_records_only_its_wall(self):
        t = Tracer(spark=None, enabled=False)
        for op in (-1, 0, 1):
            with t.span("pipe", op=op):
                pass
        self.assertEqual(set(t.walls()), {"pipe"})
        self.assertEqual(len(t.dump()), 3)
        self.assertNotIn("jobs", t.dump()[0])


def _doc(start, end, pid, pname):
    return json.dumps({"start_station_id": start, "end_station_id": end,
                       "program_id": pid, "program_name": pname, "bikeid": 1})


class ReportGate(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        day1 = os.path.join(self.tmp.name, "d1.json")
        day2 = os.path.join(self.tmp.name, "d2.json")
        with open(day1, "w") as f:
            f.write("\n".join([_doc(1, 2, 1, "NATION_1"), _doc(2, 3, 11, "NATION_11"),
                               _doc(3, 1, 2, "NATION_2")]) + "\n")
        with open(day2, "w") as f:
            f.write("\n".join([_doc(1, 1, 1, "NATION_1"), _doc(4, 2, 3, "NATION_3")]) + "\n")
        self.files = [day1, day2]

    def tearDown(self):
        self.tmp.cleanup()

    def test_expected_report_applies_the_row_filter(self):
        want = expected_report(self.files, "ACCT_AMERICA", "NATION_1%")
        self.assertEqual(want, [("NATION_1", "ACCT_AMERICA", 2),
                                ("NATION_11", "ACCT_AMERICA", 1)])
        self.assertEqual(distinct_keys(self.files), (5, 4, 4))

    def test_matching_report_passes(self):
        want = expected_report(self.files, "ACCT_AMERICA", "NATION_1%")
        got = [("NATION_11", "ACCT_AMERICA", 1), ("NATION_1", "ACCT_AMERICA", 2)]
        self.assertEqual(report_problems(got, want), [])

    def test_perturbed_report_is_rejected(self):
        want = expected_report(self.files, "ACCT_AMERICA", "NATION_1%")
        for got in ([("NATION_1", "ACCT_AMERICA", 3), ("NATION_11", "ACCT_AMERICA", 1)],
                    [("NATION_1", "ACCT_AMERICA", 2)],
                    [("NATION_1", "ACCT_ASIA", 2), ("NATION_11", "ACCT_AMERICA", 1)]):
            self.assertTrue(report_problems(got, want), got)


class LaneGate(unittest.TestCase):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0],
                         "s": ["a", "b", None]})

    def test_same_rows_in_another_order_pass(self):
        got = self.want.iloc[::-1][["v", "s", "k"]].reset_index(drop=True)
        self.assertEqual(frame_problems(got, self.want), [])

    def test_perturbed_lane_output_is_rejected(self):
        value = self.want.assign(v=[0.5, 1.25, 2.0000001])
        text = self.want.assign(s=["a", "c", None])
        short = self.want.iloc[:2]
        renamed = self.want.rename(columns={"v": "w"})
        for got in (value, text, short, renamed):
            self.assertTrue(frame_problems(got, self.want))


class BenchmarkFile(unittest.TestCase):
    def test_benchmark_json_names_match_the_runner(self):
        import run

        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(run.END_TO_END.items()))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.per_layer_names())
        from workloads import WORKLOADS

        self.assertEqual([w["name"] for w in bench["workloads"]], list(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
