"""Unit tests for the seeded query generator of scripts/dialect_check.py.

Run: python3 -m unittest discover -s scripts/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import check  # noqa: E402
import dialect_check  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


class GeneratorTest(unittest.TestCase):

    def test_two_runs_write_byte_identical_query_files(self):
        files = ("dialect_queries.tsv", "oracle_sql.json")
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            dialect_check.write_queries(dialect_check.generate(), a)
            dialect_check.write_queries(dialect_check.generate(), b)
            for f in files:
                with open(os.path.join(a, f), "rb") as fa, \
                        open(os.path.join(b, f), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), f)

    def test_count_names_and_impala_side(self):
        qs = dialect_check.generate()
        self.assertEqual(len(qs), dialect_check.COUNT)
        self.assertEqual(len({n for n, _, _ in qs}), len(qs))
        for name, imp, _ in qs:
            # `||` is OR in Impala; the query file is one query a line
            self.assertNotIn("||", imp, name)
            self.assertNotIn("\t", imp, name)
            self.assertNotIn("\n", imp, name)
            # every query ends in an ORDER BY over its output, then LIMIT
            self.assertRegex(imp, r" ORDER BY c0\b.* LIMIT \d+( OFFSET \d+)?$", name)

    @unittest.skipUnless(os.path.isdir(SF0001), "needs " + SF0001)
    def test_every_query_runs_in_duckdb(self):
        con = check.connect(SF0001)
        for name, _, duck in dialect_check.generate():
            try:
                con.sql(duck).fetchall()
            except Exception as e:  # pragma: no cover - the failure path
                self.fail(f"{name}: {e}\n{duck}")


if __name__ == "__main__":
    unittest.main()
