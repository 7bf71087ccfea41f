#!/usr/bin/env python3
"""Runs one workload of the repository's benchmark and prints its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Workloads: ingest_refresh and rate_queries (see BENCHMARK.json).
The program and the benchmark harness are built from source with sbt on the
first run (and again whenever a source file changes); the JVM then runs the
workload under `local[nproc / 2]`. Outputs are checked outside the timed region:
ingest_refresh against a model of the MERGE, the catalog entries against
their DuckDB oracles. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is 0 only when every
output was correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD = os.path.join(HERE, "target", "perfbench")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_refresh", "rate_queries")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed file rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program with the harness; returns the JVM classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def heap():
    """Half the host's memory in GiB, clamped to [2, 8]: 7g on a 15 GB host."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(max(g, 2), 8)}g"
    return "2g"


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cells_equal(a, b):
    import numpy as np
    import pandas as pd
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            ok = np.array_equal(av.astype(float), bv.astype(float), equal_nan=True)
        else:
            ok = bool(np.all((pd.isna(av) & pd.isna(bv)) | (av == bv)))
        if not ok:
            return False
    return True


def check_outputs(out_dir):
    """Compares each entry's output with its DuckDB oracle: same columns,
    same rows in the same order. Returns the failed entries and row counts."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for name in sorted(os.listdir(DATA)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(DATA, name)}'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failed, rows = [], {}
    for name, sql in sorted(oracles.items()):
        try:
            files = os.path.join(out_dir, name, "*.parquet")
            spark = con.sql(f"SELECT * FROM '{files}'").df()
            oracle = con.sql(sql).df()
            rows[name] = len(spark)
            as_emitted = (spark.reindex(sorted(spark.columns), axis=1),
                          oracle.reindex(sorted(oracle.columns), axis=1))
            if not (cells_equal(normalize(spark), normalize(oracle))
                    and cells_equal(*as_emitted)):
                failed.append(name)
                log(f"{name}: output differs from its oracle")
        except Exception as e:  # a broken output is a failed check
            failed.append(name)
            log(f"{name}: check failed: {e}")
    return {"failed": failed, "rows": rows}


def run_jvm(args, classpath, work):
    # Spark gets half the CPUs: the driver thread, which plans every
    # query, the JIT compiler threads and the GC need the rest. On a
    # shared 4-CPU host all four to Spark made runs disagree by 20%.
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    # Lower C2 thresholds: the JIT compiles Spark's hot paths sooner, so
    # less of the climb to steady state falls in the timed passes.
    cmd = ["java", f"-Xmx{heap()}", "-XX:Tier4InvocationThreshold=1000",
           "-XX:Tier4MinInvocationThreshold=200", "-XX:Tier4CompileThreshold=2000",
           "-XX:Tier4BackEdgeThreshold=10000"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--cpus", str(max(1, cpus // 2))]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=jvm_log, text=True, cwd=work)
    deadline = time.time() + JVM_TIMEOUT_S
    result, info = None, []
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("CHECK "):
                reply = check_outputs(line[len("CHECK "):])
                proc.stdin.write(json.dumps(reply) + "\n")
                proc.stdin.flush()
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            elif line.startswith("INFO "):
                info.append(line[len("INFO "):])
            if time.time() > deadline:
                raise TimeoutError("the run took too long")
        proc.wait(timeout=max(1, deadline - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        jvm_log.close()
    if proc.returncode != 0 or result is None:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode}")
    return result, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}")
    classpath = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result, info = run_jvm(args, classpath, work)
        trace = os.path.join(work, f"trace-{args.workload}.jsonl")
        if args.trace and os.path.exists(trace):
            shutil.copy(trace, os.path.join(WORK, f"trace-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for line in info:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
