"""Checks of the program's outputs against computations made apart from it.

Rollup: DuckDB's own hourly rollup of a job's selected input files against
the parquet the program wrote. Metadata bypass: the written metadata rows
against the input metadata rows. Tracker: the run report's counts against
the generator's. Saved queries: digests of the answers the generator's
assignment of buildings to states and groups implies.
"""
import hashlib

# Spark and DuckDB may each round a mean to 7 places from sums taken in a
# different order, so their last place can differ by one.
MEAN_TOLERANCE = 2e-7
TOP_PER_GROUP = 500


def q(name):
    return '"' + name.replace('"', '""') + '"'


def sql_list(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def check_rollup(con, input_files, out_data_dir, columns):
    """Problems found comparing the written rollup with DuckDB's. Empty if none."""
    means = ", ".join(f"avg({q(c)}) AS {q(c)}" for c in columns)
    got_cols = ", ".join(f"{q(c + '_mean')} AS {q(c)}" for c in columns)
    diffs = ", ".join(f"max(abs(e.{q(c)} - g.{q(c)}))" for c in columns)
    # A NULL or NaN mean would drop out of max() and greatest(), or compare
    # false, so matched rows holding one are counted apart.
    not_finite = " OR ".join(f"g.{q(c)} IS NULL OR isnan(g.{q(c)})" for c in columns)
    sql = f"""
    WITH exp AS (
      SELECT epoch_ms("timestamp") // 3600000 AS h, bldg_id, upgrade, state, county, {means}
      FROM read_parquet({sql_list(input_files)}, hive_partitioning = true)
      GROUP BY ALL),
    got AS (
      SELECT epoch_ms("timestamp") // 3600000 AS h, bldg_id_min AS bldg_id, upgrade, state, county,
             epoch_ms(timestamp_min) // 3600000 AS h_min, bldg_id AS bldg_key, {got_cols}
      FROM read_parquet('{out_data_dir}/**/*.parquet', hive_partitioning = true))
    SELECT
      (SELECT count(*) FROM exp),
      (SELECT count(*) FROM got),
      count(*) FILTER (WHERE g.h IS NULL),
      count(*) FILTER (WHERE e.h IS NULL),
      count(*) FILTER (WHERE e.h IS NOT NULL AND g.h IS NOT NULL
                       AND (g.h_min IS DISTINCT FROM g.h OR g.bldg_key IS DISTINCT FROM g.bldg_id)),
      count(*) FILTER (WHERE e.h IS NOT NULL AND g.h IS NOT NULL AND ({not_finite})),
      greatest({diffs})
    FROM exp e FULL OUTER JOIN got g
      ON e.h = g.h AND e.bldg_id = g.bldg_id AND e.upgrade = g.upgrade
         AND e.state = g.state AND e.county = g.county
    """
    n_exp, n_got, missing, extra, bad_keys, bad_means, max_diff = con.execute(sql).fetchone()
    problems = []
    if n_got != n_exp:
        problems.append(f"rollup rows {n_got}, expected {n_exp}")
    if missing or extra:
        problems.append(f"rollup keys: {missing} missing, {extra} unexpected")
    if bad_keys:
        problems.append(f"rollup: {bad_keys} rows whose timestamp_min/bldg_id_min disagree with the keys")
    if bad_means:
        problems.append(f"rollup: {bad_means} rows with a NULL or NaN mean")
    if max_diff is not None and max_diff > MEAN_TOLERANCE:
        problems.append(f"rollup means differ by up to {max_diff}")
    return problems


def check_bypass(con, metadata_in, out_metadata_dir):
    """The written metadata holds exactly the input metadata rows."""
    src = f"read_parquet('{metadata_in}', hive_partitioning = false)"
    out = f"read_parquet('{out_metadata_dir}/**/*.parquet', hive_partitioning = false)"
    lost, added = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {src} EXCEPT ALL SELECT * FROM {out})),"
        f"       (SELECT count(*) FROM (SELECT * FROM {out} EXCEPT ALL SELECT * FROM {src}))").fetchone()
    return [f"metadata bypass: {lost} input rows lost, {added} rows added"] if lost or added else []


def check_report(report, facts):
    """The tracker report's counts for every job."""
    problems = []
    if len(report["jobs"]) != len(facts["jobs"]):
        return [f"report has {len(report['jobs'])} jobs, expected {len(facts['jobs'])}"]
    for got, job in zip(report["jobs"], facts["jobs"]):
        d, m = got["data"], got["metadata"]
        want = {"listed": len(job["files"]), "rows_in": job["rows"],
                "rows_out": job["buildings"] * facts["hours_per_building"], "lost_output": False}
        for key, value in want.items():
            if d[key] != value:
                problems.append(f"{got['job']}: data.{key} = {d[key]}, expected {value}")
        if d["uploaded"] < 1 or m["listed"] != 1 or m["uploaded"] < 1:
            problems.append(f"{got['job']}: uploaded/metadata counts {d['uploaded']}, {m}")
    return problems


def digest(rows):
    """SHA-256 of the rows' tab-joined values, sorted: the same text the
    benchmark's JVM hashes for a collected answer."""
    text = "\n".join(sorted("\t".join(str(v) for v in r) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()


def expected_answers(state_facts):
    """The three saved queries' answers for one state, from the generator's
    assignment of its buildings to groups."""
    ids, groups = state_facts["ids"], state_facts["groups"]
    by_group = {}
    for b, g in zip(ids, groups):
        by_group.setdefault(g, []).append(b)
    top = [(b, g, rn) for g, members in by_group.items()
           for rn, b in enumerate(sorted(members)[:TOP_PER_GROUP], start=1)]
    return {
        "total_buildings": digest([(len(set(ids)),)]),
        "buildings_by_group": digest([(g, len(set(m))) for g, m in by_group.items()]),
        "top_buildings_per_group": digest(top),
    }
