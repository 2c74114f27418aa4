"""Unit tests for the benchmark's own arithmetic and generators.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".perfbench")


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, value, n, beyond = analysis.tail(list(range(1, 101)))
        self.assertEqual((p, value, n, beyond), (90, 90, 100, 10))

    def test_small_sample_moves_the_percentile_down(self):
        p, value, n, beyond = analysis.tail([float(x) for x in range(25, 0, -1)])
        self.assertEqual(p, 60)
        self.assertEqual(value, 15.0)
        self.assertEqual(beyond, 10)

    def test_fewer_than_twenty_samples_report_the_median(self):
        p, value, n, beyond = analysis.tail(list(range(1, 16)))
        self.assertEqual((p, value, n, beyond), (50, 8, 15, 7))

    def test_tail_is_never_below_the_median(self):
        p, value, n, beyond = analysis.tail([1.0, 2.0, 3.0, 10.0])
        self.assertEqual((p, value, n, beyond), (50, 2.5, 4, 2))

    def test_every_reported_tail_leaves_ten_samples_beyond(self):
        for n in range(20, 300, 7):
            p, _, _, beyond = analysis.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10)
            # one whole percentile higher would leave fewer than ten beyond
            self.assertLess(n * (1 - (p + 1) / 100), 10)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(analysis.union([(5, 6), (0, 2), (1, 3), (3, 4), (7, 7)]),
                         [(0, 4), (5, 6)])

    def test_driver_only_time_is_the_uncovered_part_of_the_op(self):
        tasks = [(0, 2), (1, 3), (5, 6), (9, 14)]
        self.assertEqual(analysis.uncovered(tasks, 0, 10), 10 - 3 - 1 - 1)

    def test_no_tasks_means_all_driver(self):
        self.assertEqual(analysis.uncovered([], 2, 7), 5)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = {"op": (None, 0, 10), "a": ("op", 1, 4), "b": ("op", 3, 6),
                 "c": ("op", 8, 12), "s": ("a", 1, 2)}
        self_s = analysis.self_times(spans)
        self.assertEqual(self_s["op"], 10 - 5 - 2)   # [1,6] and [8,10] covered
        self.assertEqual(self_s["a"], 3 - 1)
        self.assertEqual(self_s["b"], 3)
        self.assertEqual(self_s["c"], 4)             # a leaf keeps its whole span

    def test_self_times_sum_to_root_when_children_nest(self):
        spans = {"run": (None, 0, 20), "op1": ("run", 0, 8), "op2": ("run", 10, 20),
                 "job": ("op2", 11, 19), "stage": ("job", 12, 18)}
        self.assertEqual(sum(analysis.self_times(spans).values()), 20)


class UpsertGeneratorTest(unittest.TestCase):
    def test_same_seed_same_plan_other_seed_differs(self):
        a = gen.plan_upsert(7, 500, 100, 4)
        b = gen.plan_upsert(7, 500, 100, 4)
        c = gen.plan_upsert(8, 500, 100, 4)
        for x, y in zip(a.batches, b.batches):
            np.testing.assert_array_equal(x.rows, y.rows)
            np.testing.assert_array_equal(x.values, y.values)
        self.assertFalse(np.array_equal(a.batches[0].rows, c.batches[0].rows))
        np.testing.assert_array_equal(gen.uuid_keys(7, 50), gen.uuid_keys(7, 50))

    def test_key_mix_arithmetic(self):
        plan = gen.plan_upsert(3, 1000, 200, 5)
        n_exist, n_new, n_dup = plan.split()
        self.assertEqual((n_exist, n_new, n_dup), (139, 59, 2))
        live = plan.base_rows
        for b in plan.batches:
            keys = set(b.rows.tolist())
            self.assertEqual(len(b.rows), plan.batch_rows)
            self.assertEqual(len(keys), n_exist + n_new)
            self.assertEqual(len(b.rows) - len(keys), n_dup)
            self.assertEqual(sum(k < live for k in keys), n_exist)
            self.assertEqual({k for k in keys if k >= live}, set(range(live, live + n_new)))
            self.assertEqual((b.n_existing, b.n_new, b.n_dup_rows), (n_exist, n_new, n_dup))
            live += n_new
        self.assertEqual(plan.pool_size, live)
        nulls = np.isnan(np.concatenate([b.values for b in plan.batches]))
        self.assertFalse(nulls[:, 4].any())          # score is never null
        self.assertAlmostEqual(nulls[:, :4].mean(), plan.null_frac, delta=0.03)

    def test_fold_takes_last_non_null_in_struct_order(self):
        state = np.array([[0.5, 0.5, 0.5, 0.5, 0.5]])
        nan = np.nan
        batch = gen.Batch(rows=np.array([0, 0, 0]),
                          values=np.array([[0.9, nan, 0.1, nan, 0.3],
                                           [nan, 0.2, nan, nan, 0.8],
                                           [0.4, 0.7, nan, nan, 0.6]]),
                          n_existing=1, n_new=0, n_dup_rows=2)
        gen.fold_batch(state, batch)
        # struct order (nulls first): row1 (null f1), row2 (0.4), row0 (0.9)
        np.testing.assert_array_equal(state[0], [0.9, 0.7, 0.1, 0.5, 0.3])


class AnalyticsGeneratorTest(unittest.TestCase):
    def test_same_seed_writes_identical_files(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            a = gen.write_analytics(5, 0.0005, f"{d}/a")
            b = gen.write_analytics(5, 0.0005, f"{d}/b")
            c = gen.write_analytics(6, 0.0005, f"{d}/c")
            self.assertEqual(a, b)
            self.assertEqual(set(a), set(gen.TABLES))
            for t in gen.TABLES:
                self.assertTrue(filecmp.cmp(f"{d}/a/{t}.parquet", f"{d}/b/{t}.parquet",
                                            shallow=False), t)
            self.assertFalse(filecmp.cmp(f"{d}/a/lineitem.parquet", f"{d}/c/lineitem.parquet",
                                         shallow=False))


if __name__ == "__main__":
    unittest.main()
