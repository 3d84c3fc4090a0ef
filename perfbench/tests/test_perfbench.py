"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The generator self-tests run in the JVM (through `run.py --selftest 1`,
which builds first if needed); the DuckDB comparison is tested here.
"""
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import duckdb  # noqa: E402

import oracle  # noqa: E402


class GeneratorSelfTests(unittest.TestCase):
    def test_generators(self):
        r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--selftest", "1"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("all self-tests pass", r.stdout)
        self.assertNotIn("FAIL", r.stdout)


class OracleCanon(unittest.TestCase):
    def canon(self, sql):
        return oracle.canon(duckdb.sql(sql))

    def test_row_and_column_order_do_not_matter(self):
        a = self.canon("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, b)")
        b = self.canon("SELECT b, a FROM (VALUES (2, 'y'), (1, 'x')) t(a, b)")
        self.assertEqual(a[3], b[3])

    def test_int_and_float_differ(self):
        self.assertNotEqual(self.canon("SELECT 1::BIGINT AS v")[3], self.canon("SELECT 1.0::DOUBLE AS v")[3])

    def test_hugeint_is_not_bigint(self):
        self.assertNotEqual(self.canon("SELECT 1::HUGEINT AS v")[1], self.canon("SELECT 1::BIGINT AS v")[1])

    def test_timestamps_compare_as_utc_wall_time(self):
        a = self.canon("SELECT TIMESTAMP '2024-01-01 10:00:00' AS t")
        b = self.canon("SELECT TIMESTAMP '2024-01-01 10:00:00' AS t")
        self.assertEqual(a[3], b[3])
        self.assertEqual(a[1], ["timestamp"])


if __name__ == "__main__":
    unittest.main()
