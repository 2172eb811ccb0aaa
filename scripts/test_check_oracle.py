"""Tests of check_oracle.py's per-query outcomes and exit status.

    python3 -m unittest scripts/test_check_oracle.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle  # noqa: E402

# a cross join of 10^10 rows: minutes in DuckDB, far past the test's limit
SLOW = "SELECT sum(a.range * b.range) AS x FROM range(100000) a, range(100000) b"


class CheckOracleTest(unittest.TestCase):

    def run_check(self, oracle, spark_x):
        """check_oracle.main over `oracle` (name -> SQL) against Spark
        outputs holding one BIGINT column x with `spark_x[name]`."""
        with tempfile.TemporaryDirectory() as d:
            sf, out = os.path.join(d, "sf"), os.path.join(d, "out")
            os.makedirs(sf)
            for t in check_oracle.TABLES:
                pq.write_table(pa.table({"k": [1]}), f"{sf}/{t}.parquet")
            for name, x in spark_x.items():
                os.makedirs(f"{out}/{name}")
                pq.write_table(pa.table({"x": pa.array([x], pa.int64())}),
                               f"{out}/{name}/part-0.parquet")
            with open(f"{out}/oracle_sql.json", "w") as f:
                json.dump(oracle, f)
            buf = io.StringIO()
            saved = check_oracle.ORACLE_TIMEOUT_S
            check_oracle.ORACLE_TIMEOUT_S = 1
            try:
                with contextlib.redirect_stdout(buf):
                    rc = check_oracle.main(sf, out)
            finally:
                check_oracle.ORACLE_TIMEOUT_S = saved
            return rc, buf.getvalue()

    def test_timeout_is_its_own_status_and_fails_the_run(self):
        rc, text = self.run_check(
            {"a_ok": "SELECT 1::BIGINT AS x",
             "b_slow": SLOW,
             "c_fail": "SELECT 2::BIGINT AS x"},
            {"a_ok": 1, "b_slow": 0, "c_fail": 1})
        lines = text.splitlines()
        self.assertIn("OK   a_ok (1 rows)", lines)
        self.assertTrue(any(l.startswith("ORACLE-TIMEOUT b_slow") for l in lines),
                        text)
        self.assertFalse(any("b_slow" in l and l.startswith(("OK", "FAIL"))
                             for l in lines), text)
        self.assertTrue(any(l.startswith("FAIL c_fail") for l in lines), text)
        self.assertEqual(lines[-1], "1/3 queries match, 1 fail, 1 oracle-timeout")
        self.assertEqual(rc, 1)

    def test_timeout_alone_fails_the_run(self):
        rc, text = self.run_check({"a_ok": "SELECT 1::BIGINT AS x",
                                   "b_slow": SLOW}, {"a_ok": 1, "b_slow": 0})
        self.assertEqual(text.splitlines()[-1],
                         "1/2 queries match, 0 fail, 1 oracle-timeout")
        self.assertEqual(rc, 1)

    def test_all_match_passes(self):
        rc, text = self.run_check({"a_ok": "SELECT 1::BIGINT AS x"}, {"a_ok": 1})
        self.assertEqual(text.splitlines()[-1],
                         "1/1 queries match, 0 fail, 0 oracle-timeout")
        self.assertEqual(rc, 0)


if __name__ == "__main__":
    unittest.main()
