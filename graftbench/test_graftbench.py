"""Tests of the benchmark itself:

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""

import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class GraftBenchTest(unittest.TestCase):

    def test_selftest(self):
        """Generators and checksums depend on the seed and only on it;
        every workload passes its output checks at small sizes."""
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                           stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn("graftbench selftest: 0 failed", p.stdout)

    def test_fails_without_program(self):
        """Next to nothing but the benchmark, a run exits non-zero and
        prints no result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("out", "__pycache__"))
            p = subprocess.run([sys.executable, os.path.join(d, "graftbench", "run.py"),
                                "--workload", "dedup", "--seed", "1", "--seconds", "1", "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
