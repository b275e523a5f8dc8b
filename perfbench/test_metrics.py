"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(100))
        random.Random(1).shuffle(xs)
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_highest_such_percentile(self):
        value, pct, n = metrics.tail(range(40))
        self.assertEqual((value, pct, n), (29, 75.0, 40))

    def test_never_below_median(self):
        for n in range(1, 22):
            xs = list(range(n))
            value, _, _ = metrics.tail(xs)
            self.assertGreaterEqual(value, sorted(xs)[(n - 1) // 2])
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0])[:2], (2.0, 66.7))

    def test_empty(self):
        self.assertEqual(metrics.tail([]), (None, None, 0))


class UnionTest(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (3, 5), (10, 11)]), 7)

    def test_touching_and_unsorted(self):
        self.assertEqual(metrics.union_length([(4, 6), (0, 2), (2, 4)]), 6)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 20), (-5, 1)], 2, 15), [(2, 10), (12, 15)])


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "trace": 1, "name": name, "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 5, 25)])
        self.assertEqual(st[1], 5)

    def test_sum_of_self_times_of_a_nested_chain_is_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 90), span(3, 2, 20, 80)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 100)


class RecordTest(unittest.TestCase):
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None), (3, "c", [1.5, 2.0]), (4, "d", {"k": 1})]

    def test_order_independent(self):
        shuffled = list(self.rows)
        random.Random(7).shuffle(shuffled)
        self.assertEqual(metrics.row_hash_record(self.rows), metrics.row_hash_record(shuffled))

    def test_float_noise_below_ten_digits_is_ignored(self):
        a = metrics.row_hash_record([(1, 0.30000000000000004)])
        b = metrics.row_hash_record([(1, 0.3)])
        self.assertEqual(a, b)

    def test_changed_missing_or_duplicated_row_differs(self):
        base = metrics.row_hash_record(self.rows)
        changed = metrics.row_hash_record([(1, "a", 0.31)] + self.rows[1:])
        missing = metrics.row_hash_record(self.rows[1:])
        dup = metrics.row_hash_record(self.rows + self.rows[:1])
        self.assertIsNone(metrics.compare_record(base, base))
        self.assertIn("hash", metrics.compare_record(base, changed))
        self.assertIn("rows 3 != expected 4", metrics.compare_record(base, missing))
        self.assertIn("rows 5 != expected 4", metrics.compare_record(base, dup))

    def test_duplicates_do_not_cancel(self):
        one = metrics.row_hash_record([(1,)])
        two = metrics.row_hash_record([(1,), (1,), (1,)])
        self.assertNotEqual(one["hash"], two["hash"])

    def test_missing_record(self):
        self.assertEqual(metrics.compare_record(None, {"rows": 0, "hash": "0"}), "no expected record")


class NameTest(unittest.TestCase):
    def test_every_metric_name_is_allowed(self):
        names = [n for n, _, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(metrics.bad_names(names), [])
        self.assertEqual(len(names), len(set(names)))

    def test_bad_names_are_caught(self):
        self.assertEqual(metrics.bad_names(["ok.name-1", "has space", "a/b", ".lead", "x" * 65]),
                         ["has space", "a/b", ".lead", "x" * 65])

    def test_benchmark_json_matches_the_metric_lists(self):
        spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        for w in spec["workloads"]:
            self.assertEqual(metrics.bad_names([w["name"]]), [])


if __name__ == "__main__":
    unittest.main()
