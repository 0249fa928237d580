#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py, once
per checkout), makes the workload's inputs from the seed (llm_ops reads the
fixed tables in perfbench/data; its seed orders the gates), runs the
workload in one JVM for `--seconds` of measured time, checks the outputs,
and prints every metric by name with its unit. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the run's spans are written to
.bench_build/perfbench/traces/. See perfbench/README.md.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("llm_ops", "table_ops", "flight_feed")
# llm_ops' inputs: the `documents` and `embeddings` tables of the
# repository's sf0.01 test data, copied unchanged
DATA_DIR = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 150
JVM_OPTS = [
    # a fixed heap and young generation keep peak RSS from following the
    # collector's adaptive sizing from run to run
    "-Xms2g", "-Xmx2g", "-Xmn512m",
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def run_jvm(classes, args, data_dir, work):
    """Run one workload in a fresh JVM; return its run record."""
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--out", record, "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s", log_path)
    if proc.returncode != 0 or not os.path.exists(record):
        fail(f"JVM exited with code {proc.returncode}", log_path)
    with open(record) as fh:
        return json.load(fh)


def fail(msg, log_path=None):
    if log_path and os.path.exists(log_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
    raise SystemExit(f"perfbench: {msg}")


# ---- gate outputs against their DuckDB oracles ------------------------------
# The compare mirrors tools/check.py, kept here so that the benchmark's
# correctness check stays fixed while the repository's tools change.

def _arrow_type(t):
    s = str(t).replace("large_string", "string").replace("large_binary", "binary")
    for unit in ("ns", "ms", "s"):
        s = s.replace(f"timestamp[{unit}", "timestamp[us")
    return s


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def check_gates(dump_dir, data_dir, gates):
    """Compare each gate's dumped result with its oracle the way
    tools/check.py does: same column names and Arrow types, and equal rows
    after sorting columns by name and rows by every column, values
    compared at full precision. Returns a list of error lines."""
    import duckdb
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    errors = []
    for g in gates:
        try:
            src = f"'{os.path.join(dump_dir, g)}/*.parquet'"
            sql = oracles[g]
            got = con.sql(f"SELECT * FROM {src} LIMIT 0")
            want = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
            cols_g, cols_w = sorted(got.columns), sorted(want.columns)
            if cols_g != cols_w:
                errors.append(f"{g}: columns {cols_g} != {cols_w}")
                continue
            types_g = {f.name: _arrow_type(f.type) for f in got.arrow().schema}
            types_w = {f.name: _arrow_type(f.type) for f in want.arrow().schema}
            if types_g != types_w:
                errors.append(f"{g}: types {types_g} != {types_w}")
                continue
            cols = ", ".join(f'"{c}"' for c in cols_g)
            rows_g = con.sql(f"SELECT {cols} FROM {src} ORDER BY ALL").fetchall()
            rows_w = con.sql(f"SELECT {cols} FROM ({sql}) ORDER BY ALL").fetchall()
            if len(rows_g) != len(rows_w):
                errors.append(f"{g}: {len(rows_g)} rows != oracle {len(rows_w)}")
            elif any(tuple(map(_canon, a)) != tuple(map(_canon, b))
                     for a, b in zip(rows_g, rows_w)):
                errors.append(f"{g}: values differ from the oracle")
        except Exception as e:  # a failed read or oracle is a failed check
            errors.append(f"{g}: {type(e).__name__}: {e}")
    return errors


def main():
    args = parse_args()
    classes = build.build()
    base = build.BUILD_DIR
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = run_jvm(classes, args, DATA_DIR, work)
    checks = rec["checks"]
    attempted, failed = checks["attempted"], checks["failed"]
    errors = list(checks["errors"])
    if args.workload == "llm_ops":
        gate_errors = check_gates(rec["dump_dir"], DATA_DIR, rec["gates"])
        attempted += len(rec["gates"])
        failed += len(gate_errors)
        errors += gate_errors
    for e in errors:
        print(f"error: {e}")

    if args.trace:
        metrics = analyze.per_layer(rec, args.workload)
        spans = analyze.trace_spans(rec)
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "self_ms_by_kind": analyze.self_time_by_kind(spans),
                       "spans": spans}, fh)
        print(f"trace: {len(spans)} spans written to {os.path.relpath(path, build.ROOT)}")
    else:
        metrics = analyze.end_to_end(rec, args.workload)
    host = rec["host"]
    print(f"host: load {host['load_start']:.2f} at start, "
          f"{host['foreign_cpu_share']:.3f} of CPU used by other processes"
          + (" — CONTENDED" if host["contended"] else ""))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")

    # free the run's table, dumps and temp files; keep record and log
    for d in ("table", "gates", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    unmeasured = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if unmeasured:
        fail(f"no measurement for {', '.join(unmeasured)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
