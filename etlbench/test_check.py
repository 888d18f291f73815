#!/usr/bin/env python3
"""Tests of the benchmark's checker: it accepts a correct rollup and fails
one with a changed, NULL or NaN mean or a missing building, a wrong tracker
report, and a wrong saved-query answer. No Spark needed:

    python3 etlbench/test_check.py
"""
import os
import shutil
import tempfile
import unittest

import duckdb

import check
import workloads

SPEC = dict(disk_states=["AK", "DE"], disk_upgrades=[0, 1], jobs=["AK", "DE"], job_upgrade=0,
            buildings=12, counties=3, days=2, columns=3)


def write_rollup(con, files, columns, out_dir, where="true", change=None):
    """A rollup in the program's output layout, computed by DuckDB. `where`
    drops input rows; `change` (column, bldg_id, value) sets that
    building's first hourly mean to the SQL expression `value`, in which
    `{c}` is the mean."""
    means = ", ".join(f"round(avg({check.q(c)}), 7) AS {check.q(c + '_mean')}" for c in columns)
    altered = "*"
    if change:
        column, bldg, value = change
        c = check.q(column + "_mean")
        first_hour = workloads.START_MS // 1000
        altered = (f"* REPLACE (CASE WHEN bldg_id = {bldg} AND epoch(\"timestamp\") = {first_hour}"
                   f" THEN {value.format(c=c)} ELSE {c} END AS {c})")
    con.execute(f"""
      COPY (
        SELECT {altered} FROM (
          SELECT to_timestamp((epoch_ms("timestamp") // 3600000) * 3600) AS "timestamp", bldg_id,
                 upgrade, state, county,
                 min(to_timestamp((epoch_ms("timestamp") // 3600000) * 3600)) AS timestamp_min,
                 min(bldg_id) AS bldg_id_min, {means}
          FROM read_parquet({check.sql_list(files)}, hive_partitioning = true)
          WHERE {where}
          GROUP BY ALL))
      TO '{out_dir}' (FORMAT PARQUET, PARTITION_BY (upgrade, state, county))""")


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="etlbench_check_")
        cls.facts = workloads.generate(SPEC, os.path.join(cls.tmp, "lake"), seed=7)
        cls.job = cls.facts["jobs"][0]
        cls.con = duckdb.connect()

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.tmp)

    def rollup_problems(self, name, **alter):
        out = os.path.join(self.tmp, name)
        write_rollup(self.con, self.job["files"], self.facts["columns"], out, **alter)
        return check.check_rollup(self.con, self.job["files"], out, self.facts["columns"])

    def test_correct_rollup_passes(self):
        self.assertEqual(self.rollup_problems("good"), [])

    def test_changed_mean_fails(self):
        bldg = self.facts["states"]["AK"]["ids"][3]
        problems = self.rollup_problems("changed", change=(self.facts["columns"][1], bldg, "{c} + 0.5"))
        self.assertTrue(any("means differ" in p for p in problems), problems)

    def test_null_and_nan_means_fail(self):
        bldg = self.facts["states"]["AK"]["ids"][2]
        for name, value in [("null", "NULL"), ("nan", "'NaN'::DOUBLE")]:
            problems = self.rollup_problems(name, change=(self.facts["columns"][0], bldg, value))
            self.assertTrue(any("NULL or NaN" in p for p in problems), (name, problems))

    def test_missing_building_fails(self):
        bldg = self.facts["states"]["AK"]["ids"][5]
        problems = self.rollup_problems("missing", where=f"bldg_id <> {bldg}")
        self.assertTrue(any("missing" in p for p in problems), problems)

    def test_bypass_detects_lost_row(self):
        out = os.path.join(self.tmp, "meta_out")
        os.makedirs(out)
        src = self.job["metadata"]
        self.con.execute(f"COPY (SELECT * FROM read_parquet('{src}', hive_partitioning = false)) "
                         f"TO '{out}/all.parquet' (FORMAT PARQUET)")
        self.assertEqual(check.check_bypass(self.con, src, out), [])
        self.con.execute(f"COPY (SELECT * FROM read_parquet('{src}', hive_partitioning = false) LIMIT 11) "
                         f"TO '{out}/all.parquet' (FORMAT PARQUET)")
        self.assertEqual(len(check.check_bypass(self.con, src, out)), 1)

    def report(self, rows_out_delta=0):
        jobs = []
        for j in self.facts["jobs"]:
            jobs.append({"job": j["state"], "data": {
                "listed": len(j["files"]), "rows_in": j["rows"],
                "rows_out": j["buildings"] * self.facts["hours_per_building"] + rows_out_delta,
                "uploaded": 3, "lost_output": False}, "metadata": {"listed": 1, "uploaded": 1}})
        return {"jobs": jobs}

    def test_report(self):
        self.assertEqual(check.check_report(self.report(), self.facts), [])
        self.assertEqual(len(check.check_report(self.report(rows_out_delta=-48), self.facts)), 2)

    def test_listed_counts_only_the_selected_slice(self):
        on_disk = sum(len(fs) for _, _, fs in os.walk(os.path.join(self.tmp, "lake", workloads.YEAR)))
        self.assertEqual(on_disk, 2 * 2 * SPEC["buildings"])
        self.assertEqual([len(j["files"]) for j in self.facts["jobs"]], [SPEC["buildings"]] * 2)

    def test_saved_query_answers(self):
        state = self.facts["states"]["AK"]
        want = check.expected_answers(state)
        # A building missing from the join changes every answer.
        fewer = {"ids": state["ids"][1:], "groups": state["groups"][1:]}
        got = check.expected_answers(fewer)
        self.assertTrue(all(want[k] != got[k] for k in want))
        # The answer the replaced metadata view gives for an earlier state.
        self.assertNotEqual(check.digest([(0,)]), want["total_buildings"])

    def test_generator_is_seeded(self):
        again = workloads.state_buildings(SPEC, "AK", 7)
        self.assertEqual(again[0].tolist(), self.facts["states"]["AK"]["ids"])
        other = workloads.state_buildings(SPEC, "AK", 8)
        self.assertNotEqual(other[0].tolist(), self.facts["states"]["AK"]["ids"])


if __name__ == "__main__":
    unittest.main()
