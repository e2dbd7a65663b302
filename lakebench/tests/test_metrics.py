"""Tests of the benchmark's own metric math.

    python3 -m unittest discover -s lakebench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as m  # noqa: E402
import report  # noqa: E402


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        v, p, n = m.tail(values)
        # p99 leaves 1 beyond, p95 leaves 5, p90 leaves exactly 10
        self.assertEqual((v, p, n), (90, 90.0, 100))

    def test_large_sample_reaches_p99_9(self):
        v, p, n = m.tail(list(range(1, 20001)))
        self.assertEqual((v, p), (19980, 99.9))

    def test_ties_do_not_move_the_chosen_percentile(self):
        # 30 equal latencies: p70 has 9 samples ranked beyond, p60 has 12
        self.assertEqual(m.tail([7.0] * 30), (7.0, 60.0, 30))
        self.assertEqual(m.tail([1.0] * 15 + [5.0] * 15)[1], 60.0)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(m.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_nearest_rank_percentile(self):
        self.assertEqual(m.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(m.percentile([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(m.percentile([5, 1, 3, 2, 4], 1), 1)


class GapTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_disjoint_parts(self):
        self.assertEqual(m.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(m.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(m.union_length([]), 0)
        self.assertEqual(m.union_length([(4, 4)]), 0)

    def test_gap_is_wall_minus_union_of_stages(self):
        # op 0..100, stages 10..40 and 30..60 overlap -> union 50
        self.assertEqual(m.gap_ms(0, 100, [(10, 40), (30, 60)]), 50)

    def test_stages_are_clipped_to_the_op(self):
        # a stage stamped 5 ms before the op started counts only inside it
        self.assertEqual(m.gap_ms(100, 200, [(95, 150), (190, 230)]), 40)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans_charge_each_instant_once(self):
        spans = {"op": (0, 100, None, 0), "job": (10, 90, "op", 1),
                 "s1": (20, 50, "job", 2), "s2": (40, 70, "job", 2)}
        st = m.self_times(spans)
        self.assertEqual(st["op"], 20)   # 0-10 and 90-100
        self.assertEqual(st["job"], 30)  # 10-20 and 70-90
        self.assertEqual(st["s1"], 30)   # 20-50 (earlier start owns the overlap)
        self.assertEqual(st["s2"], 20)   # 50-70
        self.assertEqual(sum(st.values()), 100)

    def test_children_outside_their_parent_are_clipped(self):
        spans = {"op": (0, 10, None, 0), "job": (-5, 20, "op", 1)}
        self.assertEqual(m.self_times(spans), {"op": 0, "job": 10})

    def test_needs_one_root(self):
        with self.assertRaises(ValueError):
            m.self_times({"a": (0, 1, None, 0), "b": (0, 1, None, 0)})

    def test_op_self_check_adds_up(self):
        op = {"id": "x", "start_ms": 0.0, "end_ms": 100.0,
              "jobs_spans": [[1, 5.0, 60.0], [2, 70.0, 95.0]],
              "stage_spans": [[10, 1, 10.0, 40.0], [11, 1, 30.0, 55.0], [12, 2, 72.0, 90.0]]}
        gap, err, selfs = report.self_check(op)
        self.assertAlmostEqual(gap, 100 - 45 - 18)
        self.assertLess(err, 1e-9)
        self.assertAlmostEqual(sum(selfs.values()), 100.0)


class OverheadTest(unittest.TestCase):
    def test_pairs_samples_by_name(self):
        # a slow query on the traced side only must not read as overhead
        traced = {"fast": [10.0, 12.0], "slow": [1000.0], "mid": [52.0]}
        untraced = {"fast": [9.0], "slow": [999.0], "mid": [50.0, 50.0]}
        self.assertEqual(m.paired_overhead(traced, untraced), 2.0)

    def test_names_on_one_side_only_are_left_out(self):
        self.assertEqual(m.paired_overhead({"a": [5.0], "b": [900.0]}, {"a": [4.0]}), 1.0)
        self.assertEqual(m.paired_overhead({"a": [5.0]}, {}), 0.0)


class WriteAmpTest(unittest.TestCase):
    def test_new_and_rewritten_files_count_once(self):
        snaps = [{"a": 10},
                 {"a": 10, "b": 5},           # b new: 5
                 {"a": 12, "b": 5, "c": 7},   # a rewritten: 12, c new: 7
                 {"c": 7, "d": 1}]            # a, b deleted (free), d new: 1
        self.assertEqual(m.written_bytes(snaps), (25, 4))

    def test_single_snapshot_writes_nothing(self):
        self.assertEqual(m.written_bytes([{"a": 1}]), (0, 0))

    def test_ratio(self):
        self.assertEqual(m.write_amp(300, 100), 3.0)
        self.assertEqual(m.write_amp(300, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
