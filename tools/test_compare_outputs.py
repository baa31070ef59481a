"""Unit tests for tools/compare_outputs.py.

Run with: python3 -m unittest discover -s tools

Each test writes two small Verify-style output directories (one
sub-directory of parquet files per face) with duckdb and runs the
script on them as a separate process, as a verify check does.
"""
import math
import os
import struct
import subprocess
import sys
import tempfile
import unittest

import duckdb

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compare_outputs.py")


def next_up(x):
    """The double one ulp above a positive finite x."""
    return struct.unpack("<d", struct.pack("<q", struct.unpack("<q", struct.pack("<d", x))[0] + 1))[0]


def write_face(root, face, rows):
    """Write `rows` of (k INTEGER, v DOUBLE) as root/face/part-0.parquet."""
    d = os.path.join(root, face)
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.execute(f"COPY t TO '{os.path.join(d, 'part-0.parquet')}' (FORMAT parquet)")
    con.close()


ROWS = [(1, 0.1), (2, 2.5), (3, -7.0)]


class CompareOutputsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def compare(self):
        p = subprocess.run([sys.executable, SCRIPT, self.a, self.b],
                           capture_output=True, text=True)
        return p.returncode, p.stdout, p.stderr

    def both(self, face, rows_a, rows_b):
        write_face(self.a, face, rows_a)
        write_face(self.b, face, rows_b)

    def test_identical_directories_exit_0(self):
        self.both("q_one", ROWS, ROWS)
        self.both("q_two", [(5, 1.0)], [(5, 1.0)])
        code, out, err = self.compare()
        self.assertEqual(code, 0, out)
        self.assertEqual(out, "")
        self.assertIn("2/2 faces identical", err)

    def test_one_ulp_change_exits_1_and_names_the_face(self):
        changed = [(1, next_up(0.1))] + ROWS[1:]
        self.assertNotEqual(changed[0][1], 0.1)
        self.both("q_same", ROWS, ROWS)
        self.both("q_ulp", ROWS, changed)
        code, out, err = self.compare()
        self.assertEqual(code, 1)
        self.assertIn("q_ulp: DIFFERS", out)
        self.assertNotIn("q_same", out)
        self.assertIn("1/2 faces identical", err)

    def test_negative_zero_differs_from_zero(self):
        self.both("q_zero", [(1, 0.0)], [(1, -0.0)])
        code, out, _ = self.compare()
        self.assertEqual(code, 1)
        self.assertIn("q_zero: DIFFERS", out)

    def test_nan_equals_nan(self):
        self.both("q_nan", [(1, math.nan), (2, 1.0)], [(1, math.nan), (2, 1.0)])
        code, out, _ = self.compare()
        self.assertEqual(code, 0, out)

    def test_row_order_is_ignored(self):
        self.both("q_order", ROWS, list(reversed(ROWS)))
        code, out, _ = self.compare()
        self.assertEqual(code, 0, out)

    def test_a_face_missing_on_one_side_is_reported(self):
        self.both("q_both", ROWS, ROWS)
        write_face(self.a, "q_only_a", ROWS)
        write_face(self.b, "q_only_b", ROWS)
        code, out, err = self.compare()
        self.assertEqual(code, 1)
        self.assertIn("q_only_a: DIFFERS (missing in B)", out)
        self.assertIn("q_only_b: DIFFERS (missing in A)", out)
        self.assertIn("1/3 faces identical", err)


if __name__ == "__main__":
    unittest.main()
