"""Tests of the benchmark's own correctness checks: each must fail on a
deliberately corrupted output. Run from the repository root:

    python3 perfbench/tests/test_checks.py

The Scala checks run through perfbench.ChecksSelfTest (built like the
benchmark); the curation comparison is exercised here with DuckDB.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import curation_check  # noqa: E402
import run  # noqa: E402


class CurationCompare(unittest.TestCase):
    SQL = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.25)) t(k, s, x)"

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.con = curation_check.duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def result(self, sql):
        out = os.path.join(self.dir, "q")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.sql(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        return out

    def test_equal_output_passes_whatever_the_row_and_column_order(self):
        out = self.result("SELECT x, s, k FROM (VALUES (2, 'b', 1.25), (1, 'a', 0.5)) t(k, s, x)")
        self.assertEqual(curation_check.compare(self.con, "q", self.SQL, out), [])

    def test_corrupted_outputs_fail(self):
        corruptions = {
            "changed value": "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.2500001)) t(k, s, x)",
            "missing row": "SELECT * FROM (VALUES (1, 'a', 0.5)) t(k, s, x)",
            "extra row": self.SQL + " UNION ALL SELECT 3, 'c', 0.0",
            "renamed column": "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.25)) t(k, s, y)",
        }
        for how, sql in corruptions.items():
            with self.subTest(how):
                self.assertNotEqual(curation_check.compare(self.con, "q", self.SQL, self.result(sql)), [])

    def test_missing_output_fails(self):
        self.assertNotEqual(curation_check.compare(self.con, "q", self.SQL, os.path.join(self.dir, "none")), [])


class ScalaChecks(unittest.TestCase):
    def test_every_check_catches_its_corruption(self):
        sbt = run.build_sbt()
        cp = run.build(sbt, run.jars_dir(sbt))
        r = subprocess.run(["java", "-cp", cp, "perfbench.ChecksSelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
