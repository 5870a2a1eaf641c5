#!/usr/bin/env python3
"""Repository benchmark: connector scans and job-heavy gates.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for the full description):
  bars_bulk    a year of 1-minute bars for two seed-chosen symbols
  trades_grid  a year of trades for two symbols on one-day tiles, each
               reply held 20 ms by the replay server
  gates_mix    four job-heavy gates on the bundled sf0.001 tables

Run from the root of a checkout. The first run compiles the repository
and the harness into `.bench_build/` (see build.py) and answers the gate
oracles once in DuckDB. Each run then starts one JVM at local[nproc/2],
sets up five times, measures for S seconds and checks every output
outside the timed region. The last stdout line is the result:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a separate traced pass.
"""
import argparse
import json
import os
import shutil
import socket
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("bars_bulk", "trades_grid", "gates_mix")
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation",
          "orders", "part", "region", "supplier")
ORACLE = os.path.join(build.BUILD, "oracle")
JVM_TIMEOUT_S = 165
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # the JDK HTTP server otherwise leaves Nagle on: ~40 ms stalls per reply
    "-Dsun.net.httpserver.nodelay=true",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java(args, cwd, env=None, timeout=JVM_TIMEOUT_S, logfile=None):
    """Runs one JVM to completion (killed and reaped on timeout)."""
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={cwd}/tmp", "-cp", build.classpath(),
           "graft.perfbench.Main", *args]
    os.makedirs(f"{cwd}/tmp", exist_ok=True)
    with open(logfile or os.devnull, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"JVM exceeded {timeout} s and was stopped")
            return 124


def prepare_oracle(work):
    """Answers each gate's oracle SQL once in DuckDB over the bundled tables."""
    done = os.path.join(ORACLE, "done")
    if os.path.exists(done):
        return
    import duckdb
    shutil.rmtree(ORACLE, ignore_errors=True)
    os.makedirs(ORACLE)
    sql_file = os.path.join(ORACLE, "oracle_sql.json")
    if java(["export-oracle", sql_file], cwd=work, timeout=120,
            logfile=os.path.join(build.BUILD, "oracle.log")) != 0:
        raise SystemExit("perfbench: oracle SQL export failed")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    for gate, sql in json.load(open(sql_file)).items():
        con.sql(f"COPY ({sql}) TO '{ORACLE}/{gate}.parquet' (FORMAT PARQUET)")
    con.close()
    open(done, "w").close()


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build(quiet=True)
    for t in TABLES:
        if not os.path.exists(f"{DATA}/{t}.parquet"):
            raise SystemExit(f"perfbench: missing table {DATA}/{t}.parquet")
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "gates_mix":
            prepare_oracle(work)
        port = free_port()
        out = os.path.join(work, "result.json")
        env = dict(os.environ, GRAFT_STUB_ENDPOINT=f"http://127.0.0.1:{port}/v2")
        # Half the cores as task slots: a scan task keeps a page-prefetch
        # thread busy beside it, and the replay server, JIT and collector
        # share the same cores; at one slot per core the run measures the
        # scheduler more than the program.
        cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        rc = java(["run", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--cpus", str(cpus), "--port", str(port), "--data", DATA,
                   "--oracle", ORACLE, "--work", work, "--out", out],
                  cwd=work, env=env, logfile=os.path.join(build.BUILD, "last-run.log"))
        if rc != 0 or not os.path.exists(out):
            tail = open(os.path.join(build.BUILD, "last-run.log"), errors="replace").read()[-3000:]
            sys.stderr.write(tail)
            raise SystemExit(f"perfbench: JVM run failed (exit {rc})")
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(json.dumps(res["info"]))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
