#!/usr/bin/env python3
"""Consumer benchmark: one workload per call, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: backlog_drain, live_tail, operator_sample (see
perfbench/README.md). The first call builds the repository's main sources
together with the benchmark's Scala code (sbt, offline) and caches the
classpath under perfbench/target; later calls reuse it until a source file
changes.

The last line of stdout is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). A correctness mismatch prints correct=false and exits 1.
"""
import argparse
import glob
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["backlog_drain", "live_tail", "operator_sample"]
RUN_TIMEOUT_S = 170

# The JDK 17 module opens Spark needs outside spark-submit (the same list
# the repository's build passes to its forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build if needed; return the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def canon(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.iloc[df.astype(str).sort_values(by=list(df.columns)).index]
    return df.reset_index(drop=True)


def oracle_check(run_dir):
    """Compare each cold-pass dump with its DuckDB oracle; returns a list
    of mismatch messages. Queries with no oracle must return rows."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for d in sorted(glob.glob(os.path.join(run_dir, "ops", "*"))):
        name = os.path.basename(d)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            problems.append(f"{name}: no result dump")
            continue
        spark = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        if name not in oracles:
            if len(spark) == 0:
                problems.append(f"{name}: no rows")
            continue
        oracle = canon(con.execute(oracles[name]).fetchdf())
        same = (len(spark) == len(oracle) and list(spark.columns) == list(oracle.columns)
                and spark.astype(str).equals(oracle.astype(str)))
        if not same:
            problems.append(f"{name}: result differs from its DuckDB oracle "
                            f"({len(spark)} vs {len(oracle)} rows)")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the repository sources (src/main/scala/graft) are missing")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", run_dir, "--fixture", FIXTURE])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {args.workload} did not finish in {RUN_TIMEOUT_S}s")
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        raise SystemExit(f"perfbench: the benchmark JVM exited {rc} without a result")
    with open(result_file) as f:
        res = json.load(f)
    problems = list(res["problems"])
    failed = res["failed"]
    mismatches = res["mismatches"]
    attempted = res["attempted"]
    if args.workload == "operator_sample":
        bad = oracle_check(run_dir)
        problems += bad
        failed += len(bad)
        mismatches += len(bad)
    for p in problems:
        log(f"FAILED: {p}")

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            if not args.trace:
                raise SystemExit(f"perfbench: {args.workload} did not report {m['name']}")
            # A layer this workload never calls did no work.
            got = {"value": 0.0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = mismatches == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
