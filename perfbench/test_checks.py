"""Self-tests of the benchmark's result checkers: each checker must accept a
correct result and reject a perturbed one (a dropped row, a count off by
one, a pair missing, ...).

    python3 perfbench/test_checks.py
"""

import copy
import sys
import unittest

sys.dont_write_bytecode = True

import checks  # noqa: E402


def result(columns, rows):
    return {"columns": columns, "rows": [list(r) for r in rows]}


class CompareExact(unittest.TestCase):
    cols = ["event_type", "cnt"]
    ref = [("click", 10), ("error", 7), ("view", 3)]

    def test_equal_in_any_order_passes(self):
        got = result(["cnt", "event_type"], [(3, "view"), (10, "click"), (7, "error")])
        self.assertEqual(checks.compare_exact(self.cols, self.ref, got), [])

    def test_dropped_row_fails(self):
        got = result(self.cols, self.ref[:-1])
        self.assertTrue(checks.compare_exact(self.cols, self.ref, got))

    def test_count_off_by_one_fails(self):
        got = result(self.cols, [("click", 10), ("error", 8), ("view", 3)])
        self.assertTrue(checks.compare_exact(self.cols, self.ref, got))

    def test_renamed_column_fails(self):
        got = result(["event_type", "count"], self.ref)
        self.assertTrue(checks.compare_exact(self.cols, self.ref, got))

    def test_float_tolerance(self):
        ref = [(1, 0.25)]
        self.assertEqual(checks.compare_exact(["id", "r"], ref, result(["id", "r"], [(1, 0.25 + 1e-12)])), [])
        self.assertTrue(checks.compare_exact(["id", "r"], ref, result(["id", "r"], [(1, 0.2501)])))

    def test_timestamps_compare_at_microseconds(self):
        import datetime
        ref = [(datetime.datetime(2024, 1, 2, 3, 4, 5, 6),)]
        ok = result(["ts"], [("2024-01-02 03:04:05.000006",)])
        bad = result(["ts"], [("2024-01-02 03:04:05.000007",)])
        self.assertEqual(checks.compare_exact(["ts"], ref, ok), [])
        self.assertTrue(checks.compare_exact(["ts"], ref, bad))


class Ranked(unittest.TestCase):
    ref = [5.0, 4.0, 3.0, 2.0, 1.0]

    def test_top_k_passes_and_ties_may_swap(self):
        self.assertEqual(checks.check_ranked([5.0, 4.0, 3.0], self.ref, 3), [])
        self.assertEqual(checks.check_ranked([2.0, 2.0 + 1e-7], [2.0 + 1e-7, 2.0], 2), [])

    def test_wrong_entry_fails(self):
        self.assertTrue(checks.check_ranked([5.0, 3.0, 2.0], self.ref, 3))

    def test_dropped_entry_fails(self):
        self.assertTrue(checks.check_ranked([5.0, 4.0], self.ref, 3))

    def test_rank_gap_fails(self):
        _, errs = checks.rank_column([[1, 10], [3, 11]], ["rnk", "doc_id"], "doc_id")
        self.assertTrue(errs)


class ShapesProperties(unittest.TestCase):
    manifest = {"rows": {"events": 10}, "window": ["2024-01-01T00:00:00", "2024-01-31T00:00:00"]}
    point = result(["event_id", "user_id", "event_type", "props"], [(4242, 7, "view", '{"k": 1}')])
    first = {
        "q1_total_count": result(["cnt"], [(10,)]),
        "q7_distinct": result(["event_type", "cnt"], [("click", 6), ("view", 4)]),
        "q4_min_max": result(["min_ts", "max_ts"], [("2024-01-01 00:01:00.000000", "2024-01-30 23:00:00.000000")]),
        "q6_point_filter": point,
        "z2_bloom_pruned_point": copy.deepcopy(point),
    }

    def test_consistent_passes(self):
        self.assertEqual(checks.shapes_properties(self.first, self.manifest), [])

    def perturbed(self, op, rows):
        first = copy.deepcopy(self.first)
        first[op]["rows"] = [list(r) for r in rows]
        return checks.shapes_properties(first, self.manifest)

    def test_q1_off_by_one_fails(self):
        self.assertTrue(self.perturbed("q1_total_count", [(11,)]))

    def test_q7_dropped_row_fails(self):
        self.assertTrue(self.perturbed("q7_distinct", [("click", 6)]))

    def test_q4_outside_window_fails(self):
        self.assertTrue(self.perturbed("q4_min_max", [("2023-12-31 23:59:59.000000", "2024-01-02 00:00:00.000000")]))

    def test_z2_differs_from_q6_fails(self):
        self.assertTrue(self.perturbed("z2_bloom_pruned_point", []))


class Pairs(unittest.TestCase):
    def test_all_planted_found_passes(self):
        self.assertEqual(checks.pair_properties("n2", [(1, 2), (3, 4)], [[1, 2]], [0.9, 1.0]), [])

    def test_planted_pair_dropped_fails(self):
        self.assertTrue(checks.pair_properties("n2", [(3, 4)], [[1, 2]], [1.0]))

    def test_pair_below_threshold_fails(self):
        self.assertTrue(checks.pair_properties("n2", [(1, 2), (3, 4)], [[1, 2]], [0.9, 0.79]))


class Neighbours(unittest.TestCase):
    groups = [[0, 1, 2], [5, 9]]
    knn = {0: [1, 2, 7], 1: [0, 2, 7], 2: [1, 0, 7], 5: [9, 3, 4], 9: [5, 3, 4]}

    def test_planted_groups_pass(self):
        self.assertEqual(checks.neighbour_properties(self.knn, self.groups), [])

    def test_wrong_nearest_fails(self):
        knn = {**self.knn, 9: [3, 5, 4]}
        self.assertTrue(checks.neighbour_properties(knn, self.groups))


class Compaction(unittest.TestCase):
    stats = {"files_in": 10, "bytes_in": 2500, "files_out": 3}
    agg = (100, 12345, 678)

    def test_good_compaction_passes(self):
        self.assertEqual(checks.compaction_properties("t", self.stats, 1000, 10, 2500, [900, 900, 700],
                                                      self.agg, self.agg), [])

    def test_dropped_row_fails(self):
        self.assertTrue(checks.compaction_properties("t", self.stats, 1000, 10, 2500, [900, 900, 700],
                                                     self.agg, (99, 12000, 600)))

    def test_file_count_off_by_one_fails(self):
        self.assertTrue(checks.compaction_properties("t", dict(self.stats, files_out=4), 1000, 10, 2500,
                                                     [900, 900, 700, 10], self.agg, self.agg))

    def test_file_over_target_fails(self):
        self.assertTrue(checks.compaction_properties("t", self.stats, 1000, 10, 2500, [1200, 900, 400],
                                                     self.agg, self.agg))


if __name__ == "__main__":
    unittest.main()
