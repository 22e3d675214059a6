"""Tests for the oracle comparison in run.py: a mismatch, a missing dump or an
oracle error each fails its query without stopping the others."""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import run  # noqa: E402

run.ROOT = os.path.join(HERE, "..", "..")


def dump(out, name, table):
    d = os.path.join(out, "dump", name)
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))


class OracleTest(unittest.TestCase):
    def test_each_failure_counts_and_the_rest_are_checked(self):
        with tempfile.TemporaryDirectory() as t:
            in_dir, out = os.path.join(t, "in"), os.path.join(t, "out")
            os.makedirs(in_dir)
            pq.write_table(pa.table({"user_id": pa.array([3, 1, 2], pa.int64())}),
                           os.path.join(in_dir, "events.parquet"))
            ids = pa.table({"user_id": pa.array([1, 2, 3], pa.int64())})
            dump(out, "good", ids)
            dump(out, "wrong", pa.table({"user_id": pa.array([1, 2, 4], pa.int64())}))
            dump(out, "broken", ids)
            os.makedirs(os.path.join(out, "dump", "empty"))
            sql = "SELECT user_id FROM events"
            res = {"oracle_sql": {"good": sql, "wrong": sql, "empty": sql,
                                  "missing": sql,
                                  "broken": "SELECT no_such_column FROM events",
                                  "skipped": sql},
                   "verified": {"good": True, "wrong": True, "empty": True,
                                "missing": True, "broken": True, "skipped": False}}
            bad = run.oracle_failures(res, in_dir, out)
            self.assertEqual(sorted(bad), ["broken", "empty", "missing", "wrong"])
            self.assertEqual(bad["wrong"], "hash mismatch")
            self.assertEqual(bad["empty"], "no output files")


if __name__ == "__main__":
    unittest.main()
