#!/usr/bin/env python3
"""ETL-to-saved-query benchmark: generate a reference-shaped lake from a
seed, run `EtlRunner.run` on it with a real etl_config, run the three saved
queries through `QueryRegistry`, check every output apart from the program,
and print one JSON line of metrics.

    python3 etlbench/run.py --workload etl_many_files --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the program and the
benchmark driver with sbt into .bench_build/ (about a minute); later runs
reuse the build while the sources are unchanged.

Without tracing, a run repeats cold sessions until --seconds have passed and
at least two ran. A session generates the lake, starts a fresh JVM and its
SparkSession (set-up), and runs one cold round (see Bench.scala). The timings
are medians over the sessions. --trace 1 runs one session that goes on to
warm-up and measured rounds until --seconds have passed, with the layer
listener and spans, and prints the per-layer metrics instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

import check
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
MIN_SESSIONS = 2
PROGRAM_FILES = [os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft", "etl", "EtlRunner.scala"),
                 os.path.join(ROOT, "src", "main", "resources", "graft", "saved-queries.sql")]


def log(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source the build reads."""
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                h.update(os.path.join(d, f).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver unless the sources are unchanged."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.exists(p) for p in open(cp_file).read().strip().split(os.pathsep))):
        return
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the benchmark driver with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                             "exportLaunch"], cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(f"sbt build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def java_command(work, config, result, seconds, cpus, trace):
    classpath = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(BUILD, "javaopts.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    # A fixed 128 MB young generation collects about 20 times a round, so a
    # round's peak occupancy after a collection is sampled densely. G1's own
    # sizing collected once a warm round, and when that one collection fell
    # decided the figure.
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn128m", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp"] + opts
            + ["-cp", classpath, "etlbench.Bench", f"config={config}", f"work={work}", f"result={result}",
               f"seconds={seconds}", f"cpus={cpus}", f"trace={trace}"])


def run_session(spec, seed, work, seconds, trace, cpus):
    """Generate the lake and run the JVM: returns (setup seconds, generator
    facts, JVM result)."""
    lake = os.path.join(work, "lake")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    facts = workloads.generate(spec, lake, seed)
    config = os.path.join(work, "etl_config.json")
    with open(config, "w") as fh:
        json.dump(workloads.etl_config(spec, lake, os.path.join(work, "out")), fh)
    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = java_command(work, config, result, seconds, cpus, trace)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"benchmark JVM failed ({rc})")
    with open(result) as fh:
        res = json.load(fh)
    return res["ready_epoch_s"] - t0, facts, res


def parquet_files(d):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")]


def check_session(spec, facts, res):
    """Check every round of a session. Returns (attempted, failed,
    unexplained failures). Only the measured rounds count as attempted; a
    failure in a warm-up round is unexplained. A failure is explained when
    it is a saved query for a state other than the last job's, whose
    metadata view the last job replaced."""
    con = duckdb.connect()
    expected = {s: check.expected_answers(facts["states"][s]) for s in spec["jobs"]}
    last_state = spec["jobs"][-1]
    kept = {0, len(res["rounds"]) - 1}
    attempted = failed = 0
    unexplained = []
    for r, rnd in enumerate(res["rounds"]):
        measured = rnd["measured"]
        problems = check.check_report(rnd["report"], facts)
        if r in kept:
            for i, job in enumerate(facts["jobs"]):
                root = os.path.join(rnd["run_root"], rnd["report"]["jobs"][i]["job"])
                problems += check.check_rollup(con, job["files"], os.path.join(root, "data"), facts["columns"])
                problems += check.check_bypass(con, job["metadata"], os.path.join(root, "metadata"))
        answers = [(s, label, {d: 1}) for s, digests in rnd["checked"].items() for label, d in digests.items()]
        answers += [(last_state, label, counts) for label, counts in rnd["batch"].items()]
        ops = [(1, bool(problems))] + [(n, d != expected[s][label])
                                      for s, label, counts in answers for d, n in counts.items()]
        unexplained += [f"round {r}: {p}" for p in problems]
        unexplained += [f"round {r}: {label} for {s} answered wrong"
                        for s, label, counts in answers for d in counts
                        if d != expected[s][label] and (s == last_state or not measured)]
        if measured:
            attempted += sum(n for n, _ in ops)
            failed += sum(n for n, bad in ops if bad)
    con.close()
    return attempted, failed, unexplained


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(p)]
    if missing:
        sys.exit(f"program sources not found: {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    build()

    spec = workloads.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # Every session writes into its own directory; nothing is deleted until
    # the run ends, so no session pays for an earlier one's discards.
    sessions = []
    attempted = failed = 0
    unexplained = []
    start = time.time()
    try:
        while not sessions or (not args.trace and (len(sessions) < MIN_SESSIONS
                                                   or time.time() - start < args.seconds)):
            session_work = os.path.join(work, f"session-{len(sessions)}")
            setup, facts, res = run_session(spec, args.seed, session_work, args.seconds, args.trace, cpus)
            t_check = time.time()
            a, f, u = check_session(spec, facts, res)
            t_check = time.time() - t_check
            attempted, failed = attempted + a, failed + f
            unexplained += [f"session {len(sessions)} {p}" for p in u]
            sessions.append((setup, res))
            log(f"session {len(sessions) - 1}: setup {setup:.2f} s; ETL "
                + " ".join(f"{r['etl_s']:.2f}" for r in res["rounds"]) + " s; saved-query rounds "
                + " ".join(f"{r['queries_s']:.2f}" for r in res["rounds"]) + f" s; checks {t_check:.2f} s")
        rounds = sessions[-1][1]["rounds"]
        out = parquet_files(rounds[-1]["run_root"])
        inputs = [p for j in facts["jobs"] for p in j["files"] + [j["metadata"]]]
        out_ratio = sum(map(os.path.getsize, out)) / sum(map(os.path.getsize, inputs))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for u in unexplained[:20]:
        log(f"FAILED CHECK {u}")

    rows_in = sum(j["rows"] for j in facts["jobs"])
    measured = [r for r in rounds if r["measured"]]
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            layers = json.load(fh)["per_layer"]
        values = dict(res["jvm"])
        values.update({k: statistics.median(r["layers"][k] for r in measured) for k in measured[0]["layers"]})
        values["EtlRunner.cold_s"] = rounds[0]["etl_s"]
        values["EtlRunner.warm_rows_per_s"] = statistics.median(rows_in / r["etl_s"] for r in measured)
        values["QueryRegistry.round_s"] = statistics.median(r["queries_s"] for r in measured)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in layers}
    else:
        cold = [res["rounds"][0] for _, res in sessions]
        metrics = {
            "setup_s": {"value": statistics.median(s for s, _ in sessions), "unit": "s"},
            "cold_etl_cpu_s": {"value": statistics.median(r["etl_cpu_s"] for r in cold), "unit": "s"},
            "out_bytes_ratio": {"value": out_ratio, "unit": "ratio"},
            "out_files": {"value": len(out), "unit": "files"},
            "peak_heap_mb": {"value": statistics.median(r["peak_heap_mb"] for r in cold), "unit": "MB"},
        }
    print(json.dumps({"correct": not unexplained, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
