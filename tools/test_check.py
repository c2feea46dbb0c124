#!/usr/bin/env python3
"""Tests for tools/check.py's `--against` oracle diff: only oracles whose
strings differ after whitespace collapse run, and each prints `same` or
`FAIL` by comparing the two DuckDB results.

Run: python3 tools/test_check.py
"""
import contextlib
import importlib.util
import io
import os
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
spec = importlib.util.spec_from_file_location(
    "check", os.path.join(HERE, "check.py"))
check = importlib.util.module_from_spec(spec)
spec.loader.exec_module(check)


class AgainstTest(unittest.TestCase):
    def test_equal_and_unequal_results(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT range AS x FROM range(5)")
        parent = {
            "q_equal": "SELECT x FROM t ORDER BY x",
            "q_unequal": "SELECT x FROM t ORDER BY x",
            "q_spacing": "SELECT x FROM t ORDER BY x",
        }
        change = {
            "q_equal": "SELECT x FROM (SELECT x FROM t WHERE x >= 0) s ORDER BY x",
            "q_unequal": "SELECT x + 1 AS x FROM t ORDER BY x",
            "q_spacing": "SELECT x\n  FROM t   ORDER BY x",
        }
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            n_same, n_bad = check.against(con, change, parent)
        verdicts = [l for l in out.getvalue().splitlines()
                    if l.startswith(("same ", "FAIL "))]
        self.assertEqual((n_same, n_bad), (1, 1))
        # q_spacing differs only in whitespace, so it does not run
        self.assertEqual(len(verdicts), 2, verdicts)
        self.assertEqual(verdicts[0], "same q_equal")
        self.assertTrue(
            verdicts[1].startswith("FAIL q_unequal: VALUE mismatch"),
            verdicts[1])


if __name__ == "__main__":
    unittest.main()
