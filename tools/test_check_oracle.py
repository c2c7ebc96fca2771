"""Self-tests for check_oracle.canon: python3 -m unittest discover -s tools"""
import unittest

from check_oracle import canon


class CanonTest(unittest.TestCase):
    def test_column_boundaries_are_kept(self):
        # concatenating value reprs made these two rows equal
        self.assertNotEqual(canon([(1, 23)], ["a", "b"]),
                            canon([(12, 3)], ["a", "b"]))
        self.assertNotEqual(canon([("a", "bc")], ["x", "y"]),
                            canon([("ab", "c")], ["x", "y"]))

    def test_nan_rows_compare_equal(self):
        nan = float("nan")
        self.assertEqual(canon([(1, nan), (2, 0.5)], ["k", "v"]),
                         canon([(2, 0.5), (1, nan)], ["k", "v"]))
        self.assertNotEqual(canon([(1, nan)], ["k", "v"]),
                            canon([(1, None)], ["k", "v"]))

    def test_float_never_equals_its_text(self):
        self.assertNotEqual(canon([(1.5,)], ["v"]), canon([("1.5",)], ["v"]))
        self.assertNotEqual(canon([(float("nan"),)], ["v"]),
                            canon([("nan",)], ["v"]))

    def test_columns_are_ordered_by_name_and_rows_sorted(self):
        self.assertEqual(canon([(3, "x"), (1, "y")], ["b", "a"]),
                         canon([("y", 1), ("x", 3)], ["a", "b"]))

    def test_mixed_none_and_values_sort(self):
        rows = [(None, 1), (2, None), (1, 1)]
        self.assertEqual(len(canon(rows, ["a", "b"])), 3)


if __name__ == "__main__":
    unittest.main()
