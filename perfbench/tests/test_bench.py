"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics  # noqa: E402
import plan  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([10, 20], 25), 12.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_length_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([(5, 6)], 0, 4), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_child_cover(self):
        spans = [
            {"id": "r", "parent": None, "start": 0, "end": 100},
            {"id": "a", "parent": "r", "start": 0, "end": 30},
            {"id": "b", "parent": "r", "start": 20, "end": 60},
            {"id": "c", "parent": "b", "start": 25, "end": 35},
            {"id": "d", "parent": "b", "start": 50, "end": 80},  # outlives its parent
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["r"], 40)   # 100 - |[0, 60]|
        self.assertEqual(st["a"], 30)
        self.assertEqual(st["b"], 20)   # 40 - 10 - 10 (d clipped to [50, 60])
        self.assertEqual(st["d"], 30)
        self.assertAlmostEqual(stats.coverage(spans[0], spans[1:3]), 0.6)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_query_orders(self):
        a = plan.query_orders(30, 7, 5)
        self.assertEqual(a, plan.query_orders(30, 7, 5))
        self.assertNotEqual(a, plan.query_orders(30, 8, 5))
        for order in a:
            self.assertEqual(sorted(order), list(range(30)))

    def test_same_seed_same_op_sequence(self):
        a = plan.store_ops(3, 100)
        self.assertEqual(a, plan.store_ops(3, 100))
        self.assertNotEqual(a, plan.store_ops(4, 100))

    def test_every_block_has_the_exact_mix(self):
        ops = plan.store_ops(11, 50)
        n = len(plan.BLOCK)
        self.assertEqual(len(ops), 50 * n)
        for b in range(50):
            block = ops[b * n:(b + 1) * n]
            kinds = [o["kind"] for o in block]
            subs = [o["sub"] for o in block if o["kind"] == "get"]
            self.assertEqual((kinds.count("get"), kinds.count("scan"), kinds.count("copy")), (12, 5, 3))
            self.assertEqual((subs.count("absent"), subs.count("readback")), (1, 2))
        self.assertEqual(ops[0]["kind"], "copy")


def key(o, line):
    return f"{o:016x}{line:016x}"


KEYS = [[1, 1, 1], [1, 2, 2], [2, 1, 1], [60, 3, 1]]
BASE = 1700000000000


def store_trace():
    """A correct op sequence against the KEYS fixture."""
    return [
        {"i": 0, "kind": "get", "sub": "present", "store": "src", "key": key(1, 2), "cells": 18,
         "ts": [BASE], "keys": [key(1, 2)]},
        {"i": 1, "kind": "get", "sub": "absent", "store": "src", "key": key(1, 0), "cells": 0,
         "ts": [], "keys": []},
        {"i": 2, "kind": "scan", "sub": "", "store": "src", "lo": 0, "hi": 50, "cells": 36,
         "keys": [key(1, 1), key(2, 1)]},
        {"i": 3, "kind": "copy", "sub": "", "store": "src", "key": key(1, 2), "copy_ts": 7, "cells": 18},
        {"i": 4, "kind": "copy", "sub": "", "store": "src", "key": key(1, 2), "copy_ts": 9, "cells": 18},
        {"i": 5, "kind": "get", "sub": "readback", "store": "dst", "key": key(1, 2), "cells": 36,
         "ts": [7, 9], "keys": [key(1, 2)]},
    ]


class StoreCheckTest(unittest.TestCase):
    def test_correct_sequence_passes(self):
        self.assertEqual(checks.check_store(store_trace(), KEYS, BASE), [])

    def test_expected_count_follows_multiplicity(self):
        ops = store_trace()
        ops[0]["cells"] = 9  # a constant 9 is wrong for a key held twice
        self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1)

    def test_wrong_counts_and_ts_fail(self):
        for i, field, value in [(1, "cells", 9), (2, "cells", 45), (3, "cells", 9),
                                (5, "cells", 18), (5, "ts", [7]), (0, "ts", [BASE + 1])]:
            ops = store_trace()
            ops[i][field] = value
            self.assertTrue(checks.check_store(ops, KEYS, BASE), (i, field, value))

    def test_get_of_another_row_fails(self):
        # key (1, 1) is held once, so a GET of (1, 1) that returns the
        # cells of (2, 1) has the right count and ts
        ops = store_trace()
        ops[0].update(key=key(1, 1), cells=9, keys=[key(2, 1)])
        self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1)
        ops = store_trace()
        ops[5]["keys"] = [key(1, 2), key(1, 1)]
        self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1)

    def test_scan_of_another_range_fails(self):
        # orderkeys 2-51 hold one row, (2, 1); a scan that returns the
        # cells of another single row has the right count
        ops = store_trace()
        ops[2].update(lo=2, hi=52, cells=9, keys=[key(2, 1), key(2, 1)])
        self.assertEqual(checks.check_store(ops, KEYS, BASE), [])
        for wrong in (key(60, 3), key(1, 1)):
            ops[2]["keys"] = [wrong, wrong]
            self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1, wrong)
        ops = store_trace()
        ops[2]["keys"] = [key(1, 2), key(2, 1)]  # the range starts at (1, 1)
        self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1)

    def test_errors_and_timeouts_fail(self):
        ops = store_trace()
        ops[2]["err"] = "timeout after 40 seconds"
        self.assertEqual(len(checks.check_store(ops, KEYS, BASE)), 1)


GOLD = {"q_a": {"rows": 3, "h1": "11", "h2": "22"},
        "q_b": {"rows": 5, "h1": "1", "h2": "2"}}


def reg_op(q, **kw):
    op = dict(GOLD[q], q=q, **{"pass": 0})
    op.update(kw)
    return op


class RegistryCheckTest(unittest.TestCase):
    def test_matching_digests_pass(self):
        self.assertEqual(checks.check_registry([reg_op("q_a"), reg_op("q_b")], GOLD), [])

    def test_tampered_golden_fails(self):
        gold = copy.deepcopy(GOLD)
        gold["q_a"]["h2"] = "23"
        self.assertEqual(len(checks.check_registry([reg_op("q_a"), reg_op("q_b")], gold)), 1)

    def test_each_digest_field_is_checked(self):
        for field in checks.DIGEST:
            op = reg_op("q_a", **{field: "0"})
            self.assertEqual(len(checks.check_registry([op], GOLD)), 1, field)

    def test_errors_and_missing_goldens_fail(self):
        self.assertEqual(len(checks.check_registry([reg_op("q_a", err="boom")], GOLD)), 1)
        self.assertEqual(len(checks.check_registry([dict(reg_op("q_a"), q="q_new")], GOLD)), 1)


class MetricsTest(unittest.TestCase):
    def test_end_to_end_on_fixed_records(self):
        raw = {"info": {"process_start_ms": 1000}, "setup_end_ms": 3500}
        ops = [{"q": "a", "unit": 0, "start_ms": 10000 + 100 * i, "ms": ms, "traced": False}
               for i, ms in enumerate([10, 20, 30, 40])]
        ops[3]["q"] = "b"
        m = metrics.end_to_end(raw, ops)
        self.assertEqual(m["setup_s"], (2.5, "s"))
        self.assertAlmostEqual(m["ops_per_s"][0], 4 / 0.34)
        self.assertAlmostEqual(m["op_ms_p75"][0], 32.5)
        self.assertAlmostEqual(m["geomean_ms"][0], (20 * 40) ** 0.5)

    def test_wall_time_sums_timed_units(self):
        # time between two units is not loop time
        raw = {"info": {"process_start_ms": 0}, "setup_end_ms": 1000}
        ops = [{"q": "a", "unit": 0, "start_ms": 0, "ms": 100, "traced": False},
               {"q": "a", "unit": 1, "start_ms": 5000, "ms": 100, "traced": False}]
        self.assertAlmostEqual(metrics.end_to_end(raw, ops)["ops_per_s"][0], 10.0)

    def test_layers_of_one_op(self):
        spans = [
            {"id": "0", "parent": None, "op": 0, "name": "op", "start": 0, "end": 100},
            {"id": "0.fn", "parent": "0", "op": 0, "name": "fn", "start": 0, "end": 10},
            {"id": "0.x1.optimization", "parent": "0", "op": 0, "name": "optimization", "start": 10, "end": 40},
            {"id": "0.x1", "parent": "0", "op": 0, "name": "execution", "start": 40, "end": 95},
            {"id": "0.j1", "parent": "0.x1", "op": 0, "name": "job", "start": 45, "end": 90},
            {"id": "0.s1", "parent": "0.j1", "op": 0, "name": "stage", "start": 50, "end": 90,
             "counts": dict.fromkeys(metrics.COUNTS, 2), "tasks": [[50, 70], [60, 90]]},
        ]
        lay = metrics.op_layers(spans[0], spans)
        self.assertEqual(lay["coverage"], 0.95)
        self.assertEqual(lay["unattributed_ms"], 5)
        self.assertEqual(lay["exec_driver_ms"], 10)
        self.assertEqual(lay["no_task_ms"], 60)
        self.assertEqual(lay["optimization_ms"], 30)
        self.assertEqual((lay["jobs"], lay["stages"], lay["tasks"]), (1, 1, 2))


if __name__ == "__main__":
    unittest.main()
