"""Checks that make_expected.py hashes as ResultHash.scala does.

    python3 -m unittest perfbench/test_make_expected.py
"""
import datetime
import decimal
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from make_expected import canon, result_hash  # noqa: E402


class ResultHashTest(unittest.TestCase):
    def test_golden_shared_with_scala(self):
        # ResultHashSpec asserts the same string for the same rows
        rows = [("a", 0.1, True), ("b", None, False), ("c", 3, None)]
        self.assertEqual(result_hash(["name", "v", "ok"], rows),
                         "name,ok,v|3|fe0b4b92d8bda018")

    def test_row_order_ignored(self):
        rows = [("x", 1.5), ("y", None), ("z", 2.25)]
        self.assertEqual(result_hash(["b", "a"], rows),
                         result_hash(["b", "a"], rows[::-1]))

    def test_doubles_rounded(self):
        self.assertEqual(canon(0.1 + 0.2), canon(0.3))
        self.assertEqual(canon(1.0000000004), "1")
        self.assertNotEqual(canon(1.000000001), canon(1.0))
        self.assertEqual(canon(-0.0), "0")
        self.assertEqual(canon(2.5e-10), "0")
        self.assertEqual(canon(100.0), "100")
        self.assertEqual(canon(1e20), "100000000000000000000")
        self.assertEqual(canon(decimal.Decimal("1.2300")), "1.23")

    def test_dates_and_timestamps(self):
        self.assertEqual(canon(datetime.date(1970, 1, 11)), "10")
        self.assertEqual(canon(datetime.datetime(1970, 1, 1, 0, 0, 1)),
                         "1000000")


if __name__ == "__main__":
    unittest.main()
