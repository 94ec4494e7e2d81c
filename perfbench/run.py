#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <rag_search|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline,
into perfbench/target), then runs one workload in one JVM
(`perfbench.Main`) over the sf0.1 tables in perfbench/data/sf0.1 (a
read-only copy of the engine's seed-42 test data). The last line of
standard output is the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list (a layer the workload does not touch reads 0).
Every run also records the load average before and after it and the
DuckDB drift control (the engine's real-SQL oracles run by DuckDB on the
same tables) in perfbench/work/runs.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
PINS = os.path.join(HERE, "pins", "catalog.tsv")
DATA = os.path.join(HERE, "data", "sf0.1")
ORACLE_SQL = os.path.join(WORK, "oracle_sql.json")
RUN_LIMIT_S = 175  # every run (after the first build) ends within this
JVM_OPTS = [
    "-Xmx4g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # Spark keeps the status of its last 1000 jobs, stages and SQL
    # executions even with the UI off; a run holds more of them the more
    # passes it fits, which would move heap_retained_mb with the box's
    # speed. A short history keeps that share of the heap constant.
    "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
    "-Dspark.ui.retainedTasks=2000", "-Dspark.sql.ui.retainedExecutions=20",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources, harness sources,
    build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the whole group on
    timeout and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(stamp):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
            and open(STAMP).read().strip() == stamp:
        return
    log("building engine + harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       timeout=850, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (rc={rc}); see {WORK}/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)


def jvm_cmd(args):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    props = [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             f"-Dderby.system.home={tmp}"]
    cp = open(CLASSPATH).read().strip()
    return ["java"] + JVM_OPTS + props + ["-cp", cp, "perfbench.Main"] + args


def run_jvm(args, timeout, logname):
    with open(os.path.join(WORK, logname), "w") as err:
        rc = run_group(jvm_cmd(args), timeout=timeout, cwd=WORK,
                       stdout=err, stderr=subprocess.STDOUT)
    return rc


def real_sql(sqls):
    """The engine's real-SQL oracles that read only the catalog tables
    (no fixture files, no pinned VALUES lists)."""
    return {k: v for k, v in sorted(sqls.items())
            if "read_parquet(" not in v
            and not (v.startswith("SELECT") and "FROM (VALUES" in v)}


def timed_queries():
    """The catalog workload's timed subset, as marked in the pins."""
    if not os.path.exists(PINS):
        return set()
    rows = [l.rstrip("\n").split("\t") for l in open(PINS) if not l.startswith("#")]
    return {r[0] for r in rows if len(r) > 5 and r[5] == "timed"}


def control_sql():
    """DuckDB's drift control: the real-SQL oracles of the timed catalog
    queries (the engine writes its oracle SQL at the start of every run)."""
    sqls = real_sql(json.load(open(ORACLE_SQL)))
    timed = timed_queries()
    return {k: v for k, v in sqls.items() if k in timed}


def duckdb_views(con, data):
    """One DuckDB view per table file under `data`."""
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data}/{name}')")


def duckdb_control():
    """DuckDB's wall for one pass over the control queries (after one
    untimed pass that warms its file and plan caches)."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    con.execute("SET threads TO %d" % (os.cpu_count() or 4))
    con.execute("SET TimeZone='UTC'")
    duckdb_views(con, DATA)
    qs = list(control_sql().values())
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        for sql in qs:
            con.execute(sql).fetchall()
        walls.append(time.perf_counter() - t0)
    wall = walls[-1]
    con.close()
    return wall


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["rag_search", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(spec_path) \
            or not os.path.isdir(DATA):
        sys.exit("engine sources (src/main/scala), BENCHMARK.json or "
                 "perfbench/data not found; run from the repository root of a "
                 "full checkout")
    spec = json.load(open(spec_path))
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    build(stamp)
    t_start = time.monotonic()

    out = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for f in os.listdir(os.path.dirname(out)):
        if f.startswith(f"{a.workload}-{a.seed}-{a.trace}."):
            os.remove(os.path.join(os.path.dirname(out), f))
    jargs = ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", WORK, "--out", out,
             "--data", DATA, "--pins", PINS, "--oracle-sql", ORACLE_SQL]
    load_before = load1()
    budget = RUN_LIMIT_S - (time.monotonic() - t_start) - 12
    try:
        rc = run_jvm(jargs, budget, f"{a.workload}.log")
    except subprocess.TimeoutExpired:
        sys.exit(f"{a.workload} did not finish within {budget:.0f} s")
    finally:
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "warehouse"), ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(WORK, f"{a.workload}.log")).read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"{a.workload} failed (rc={rc})")
    load_after = load1()
    control = duckdb_control()

    res = json.load(open(out))
    notes_path = out[:-5] + ".notes.json"
    notes = json.load(open(notes_path)) if os.path.exists(notes_path) else {}
    got = dict(res["metrics"])
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        got["control.duckdb_catalog_s"] = control if control is not None else 0.0
        got["control.load1_before"] = load_before
        got["control.load1_after"] = load_after
    names = [m["name"] for m in declared]
    extra = sorted(set(got) - set(names))
    missing = [n for n in names if n not in got]
    if extra or (missing and not a.trace):
        sys.exit(f"metric set differs from BENCHMARK.json: extra={extra} missing={missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "load1_before": load_before,
              "load1_after": load_after, "duckdb_control_s": control,
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": {k: v["value"] for k, v in metrics.items()},
              "notes": {k: v for k, v in notes.items() if k != "span_self_ms"}}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for k, v in notes.items():
        if k != "span_self_ms":
            log(f"{k} = {v}")
    log(f"fail_ratio = {res['failed'] / max(1, res['attempted'])} "
        f"({res['failed']} of {res['attempted']} operations)")
    log(f"load1 before {load_before} after {load_after}; "
        f"duckdb control {control if control is None else round(control, 4)} s")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
