"""Tests of the launcher's inventory oracle check, which runs the
project's oracle gate (tools/check_oracle.py) over the dumped results.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import duckdb

import run

QUERY = "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY 1 ORDER BY 1"


class OracleCheckTest(unittest.TestCase):
    def dump(self, tmp, sql, oracle=QUERY):
        """Write a result and its oracle where the benchmark JVM writes them."""
        d = os.path.join(tmp, "q")
        os.makedirs(d)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM '{run.DATA}/nation.parquet'")
        con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        with open(os.path.join(tmp, "oracle_sql.json"), "w") as fh:
            json.dump({"q": oracle}, fh)

    def test_matching_result_passes(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.dump(tmp, QUERY)
            self.assertEqual(run.oracle_failures(run.DATA, tmp), {})

    def test_dropped_row_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.dump(tmp, QUERY.replace("ORDER BY 1", "HAVING r <> 3 ORDER BY 1"))
            self.assertIn("rows", run.oracle_failures(run.DATA, tmp)["q"])

    def test_changed_value_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.dump(tmp, QUERY.replace("count(*) AS n", "count(*) + (n_regionkey = 2)::BIGINT AS n"))
            self.assertIn("value@2", run.oracle_failures(run.DATA, tmp)["q"])

    def test_reordered_rows_fail(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.dump(tmp, QUERY.replace("ORDER BY 1", "ORDER BY 1 DESC"))
            self.assertIn("q", run.oracle_failures(run.DATA, tmp))

    def test_missing_dump_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            with open(os.path.join(tmp, "oracle_sql.json"), "w") as fh:
                json.dump({"q": QUERY}, fh)
            self.assertIn("q", run.oracle_failures(run.DATA, tmp))

    def test_failing_gate_fails_every_row(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.dump(tmp, QUERY)
            # the gate cannot open a missing data directory at all
            bad = run.oracle_failures(os.path.join(tmp, "no-such-data"), tmp)
            self.assertEqual(list(bad), ["q"])


class PerLayerTest(unittest.TestCase):
    def test_reports_every_listed_metric_with_its_unit(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            listed = json.load(fh)["per_layer"]
        got = run.per_layer({"api.write_ms": 12.5, "not.listed": 1.0})
        self.assertEqual(list(got), [m["name"] for m in listed])
        self.assertEqual({n: v["unit"] for n, v in got.items()},
                         {m["name"]: m["unit"] for m in listed})
        self.assertEqual(got["api.write_ms"]["value"], 12.5)
        # a figure the workload does not have is reported as 0
        self.assertEqual(got["format.sortmerge_rows_per_s"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
