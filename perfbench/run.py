#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Workloads:

  ingest-wire     Protobuf + Avro records through GraftApp routing
  ingest-text     ~1 KB JSON documents through the text kernels
  batch-analytic  a fixed subset of SparkEntry.queries

The first run in a checkout builds the graft sources together with the
harness under perfbench/ (sbt, offline) into .bench_build/, and for
batch-analytic generates its tables with graft.tools.GenData and caches
the DuckDB oracle answers; later runs reuse all three while the sources
are unchanged.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics. The run exits non-zero
when any output check fails.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import pickle
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("ingest-wire", "ingest-text", "batch-analytic")
RUN_LIMIT_S = 175      # a run that does not build must end within this
BUILD_LIMIT_S = 880    # a run that builds must end within this
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Tables the oracle SQL reads (as in scripts/check_oracle.py).
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_proc(cmd, cwd, env, logfile, deadline):
    """Run cmd in its own process group, output to logfile; kill the whole
    group if it outlives the deadline. Returns the exit code."""
    with open(logfile, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"timed out: {' '.join(cmd[:3])} ... (log: {logfile})")
            return -9


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace")
                         .splitlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """SHA-256 over every source and build file the program is built from."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS") or "-Xmx2g"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    return env


def build(stamp, deadline):
    """Compile graft + the harness; cache the runtime classpath."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    log("building (sbt compile) ...")
    logfile = BUILD / "logs" / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    rc = run_proc(cmd, HERE, sbt_env(), logfile, deadline)
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{tail(logfile)}")
    cp = None
    for line in Path(logfile).read_text(errors="replace").splitlines():
        parts = line.strip().split(os.pathsep)
        if len(parts) > 5 and all(p.startswith("/") for p in parts):
            cp = line.strip()
    if cp is None:
        fail("build produced no classpath")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, True


def java_cmd(cp, main, args, heap=HEAP):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", f"-Xms{heap}", *opens,
             "-Dspark.ui.enabled=false",
             f"-Dspark.local.dir={BUILD / 'spark-local'}",
             f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
             f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, main] + [str(a) for a in args])


def batch_data(cp, stamp, deadline):
    """sf0.1 tables from graft.tools.GenData (fixed, hash-derived data)."""
    data = BUILD / "data" / "sf0.1"
    done = data / "_generated"
    if done.exists() and done.read_text() == stamp:
        return data, False
    shutil.rmtree(data, ignore_errors=True)
    data.mkdir(parents=True)
    log("generating batch-analytic tables (graft.tools.GenData, sf0.1) ...")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    logfile = BUILD / "logs" / "gendata.log"
    rc = run_proc(java_cmd(cp, "graft.tools.GenData", [data, 1]), ROOT, env,
                  logfile, deadline)
    if rc != 0:
        fail(f"GenData failed (exit {rc}):\n{tail(logfile)}")
    done.write_text(stamp)
    return data, True


def check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_connect(data):
    """DuckDB views over the tables, with check_oracle.py's events fix."""
    import duckdb
    con = duckdb.connect()
    (BUILD / "duckdb-tmp").mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{BUILD / 'duckdb-tmp'}'")
    con.execute("SET threads=4")
    for t in TABLES:
        p = data / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        if t == "events":
            (ts_type,) = [r[1] for r in con.execute("DESCRIBE events")
                          .fetchall() if r[0] == "ts"]
            if ts_type == "BIGINT":
                con.execute("CREATE OR REPLACE VIEW events AS SELECT * "
                            "REPLACE (make_timestamp(ts // 1000) AS ts) "
                            f"FROM read_parquet('{src}')")
    return con


def oracle_check(data, results, queries, oracle_sql, stamp):
    """Compare each query's Spark result with DuckDB running its oracle SQL,
    normalised as scripts/check_oracle.py does. Oracle answers are cached
    per source stamp. Returns the list of mismatch descriptions."""
    co = check_oracle_module()
    cache = BUILD / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    con = duck_connect(data)
    problems = []
    for q in queries:
        key = hashlib.sha256((stamp + oracle_sql[q]).encode()).hexdigest()[:16]
        f = cache / f"{q}-{key}.pkl"
        if f.exists():
            dc, dr = pickle.loads(f.read_bytes())
        else:
            cur = con.execute(oracle_sql[q])
            dc, dr = co.normalize(cur.fetchall(), [c[0] for c in cur.description])
            f.write_bytes(pickle.dumps((dc, dr)))
        cur = con.execute(
            f"SELECT * FROM read_parquet('{results / q}/*.parquet')")
        sc, sr = co.normalize(cur.fetchall(), [c[0] for c in cur.description])
        if sc != dc:
            problems.append(f"{q}: columns spark={sc} oracle={dc}")
        elif len(sr) != len(dr):
            problems.append(f"{q}: rows spark={len(sr)} oracle={len(dr)}")
        elif not all(co.rows_equal(a, b) for a, b in zip(sr, dr)):
            problems.append(f"{q}: values differ from the oracle")
    con.close()
    return problems


def git_commit():
    try:
        # The ceiling keeps git from finding a repository above the checkout.
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "none (not a git checkout)"


def run_all(a):
    """Every workload in turn, each in its own process; the last line
    merges their results, with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        merged["correct"] = merged["correct"] and res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    sys.exit(0 if merged["correct"] else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        run_all(a)
    start = time.monotonic()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                 HERE / "build.sbt"):
        if not need.exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    for d in ("logs", "results", "spans"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)

    stamp = source_stamp()
    cp, built = build(stamp, start + BUILD_LIMIT_S - 120)
    data = None
    if a.workload == "batch-analytic":
        data, generated = batch_data(cp, stamp, start + BUILD_LIMIT_S - 90)
        built = built or generated
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = BUILD / "results" / f"{tag}.jvm.json"
    out.unlink(missing_ok=True)
    jvm_log = BUILD / "logs" / f"{tag}.log"
    jvm_log.unlink(missing_ok=True)
    margin = 25 if a.workload == "batch-analytic" else 5
    rc = run_proc(java_cmd(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
        "--trace", a.trace, "--work", work, "--data", data or "",
        "--out", out, "--spans", BUILD / "spans" / f"{tag}.jsonl"]),
        ROOT, dict(os.environ), jvm_log, deadline - margin)
    if rc != 0 or not out.exists():
        fail(f"benchmark JVM failed (exit {rc}):\n{tail(jvm_log)}")
    res = json.loads(out.read_text())

    if a.workload == "batch-analytic":
        bad = oracle_check(data, Path(res["env"]["results_dir"]),
                           res["env"]["queries"], res.pop("oracle_sql"), stamp)
        res["problems"] += bad
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad

    env = res["env"]
    env.update({
        "nproc": os.cpu_count(),
        "host_mem_gb": round(os.sysconf("SC_PAGE_SIZE") *
                             os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "heap": HEAP,
        "git_commit": git_commit(),
        "source_sha256": stamp,
        "python": platform.python_version(),
        "built_this_run": built,
    })
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(res, indent=1))

    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']} "
              f"(n={m['samples']}{'; ' + m['note'] if m['note'] else ''})")
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in res["metrics"].items()},
    }))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
