#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Builds the program from source (perfbench/build.py), stages the workload's
inputs from the seed, runs the Scala harness (graft.perfbench.Main) in a fresh
JVM, and prints a human-readable report line followed, as the last line, by
one JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics; with --trace 1 they are
its per_layer metrics, and the full traced report (spans, self times, the
workload-specific layer times) is written to .bench_build/traces/.

Everything the run writes stays under .bench_build/ in the repository root.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl_daily", "registry_mix")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECT = os.path.join(HERE, "data", "expected_sf0.01.json")
# Overrides that change what the program does; a run under any of them is
# never a valid sample, so the benchmark refuses to start.
REFUSED_PREFIXES = ("GRAFT_STREAM_", "SPARK_GRAFT_BENCH_")
REFUSED_NAMES = ("SPARK_GRAFT_ONLY", "SPARK_GRAFT_STATE", "SPARK_GRAFT_SCRATCH")
DEADLINE_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def refused_overrides(env):
    return sorted(k for k in env if k.startswith(REFUSED_PREFIXES) or k in REFUSED_NAMES)


def stage_registry(out_dir, seed):
    """The committed sf0.01 tables with every table's rows in a seeded order.
    Registry results are order-independent, so one oracle record serves all
    seeds while the bytes the program reads change with the seed."""
    import numpy as np
    import pyarrow.parquet as pq
    dst = os.path.join(out_dir, "inputs", f"seed{seed}")
    if os.path.exists(os.path.join(dst, "_DONE")):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        tab = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        pq.write_table(tab.take(rng.permutation(tab.num_rows)), os.path.join(tmp, f"{t}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


def table_rows(data):
    """`--rows` for the harness: each table's row count, as t=n,..."""
    import pyarrow.parquet as pq
    return ",".join(f"{t}={pq.ParquetFile(os.path.join(data, f'{t}.parquet')).metadata.num_rows}" for t in TABLES)


def source_id(root, st):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + st[:16]


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    bad = refused_overrides(os.environ)
    if bad:
        fail("refusing to run under program overrides " + ", ".join(bad))
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path) or not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: BENCHMARK.json and src/main/scala are required")
    spec = read_json(spec_path)
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    try:
        classes, st, built = build.build(root, out_dir)
    except RuntimeError as e:
        fail(str(e))
    # a run that had to build may take longer; it still gets a full deadline
    deadline = (time.time() if built else t_start) + DEADLINE_S

    data = stage_registry(out_dir, args.seed) if args.workload != "etl_daily" else DATA
    rows = table_rows(data)
    work = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", *JVM_OPENS,
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", repr(args.seconds), "--trace", str(args.trace), "--data", data, "--rows", rows,
           "--work", work, "--expect", EXPECT, "--out", report_path]
    log_path = os.path.join(out_dir, f"last_{args.workload}.log")
    rc = run_jvm(cmd, log_path, deadline)
    if rc != 0 or not os.path.exists(report_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; log tail:\n{tail}", 1)
    report = read_json(report_path)
    shutil.rmtree(work, ignore_errors=True)
    report["stamp"]["commit"] = source_id(root, st)

    if args.trace:
        traces = os.path.join(out_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}_seed{args.seed}.json"), "w") as f:
            json.dump(report, f, indent=1)
        report.pop("spans", None)
        wanted, source = spec["per_layer"], report.get("per_layer", {})
    else:
        wanted, source = spec["end_to_end"], report["end_to_end"]

    metrics, correct = {}, report["failed"] == 0 and report["attempted"] >= 1
    for m in wanted:
        v = source.get(m["name"])
        if v is None or not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("report: " + json.dumps(report, ensure_ascii=False))
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
