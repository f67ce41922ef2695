#!/usr/bin/env python3
"""Re-establish perfbench/data/expected_sf0.01.json, the content-hash record
the registry workloads are checked against. From the repository root:

    python3 perfbench/record.py

It runs every benchmark registry query once over perfbench/data/sf0.01
(graft.perfbench.Main --record), compares each result with the query's DuckDB
oracle SQL (SparkEntry.oracleSql) through tools/check_oracle.py (columns by
name, rows sorted, exact values), and writes the hashes only if every query
matches; otherwise it exits non-zero and writes nothing.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import build  # noqa: E402
import run  # noqa: E402
import check_oracle  # noqa: E402


def main():
    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classes, _, _ = build.build(root, out_dir)
    rec = os.path.join(out_dir, "record")
    shutil.rmtree(rec, ignore_errors=True)
    os.makedirs(os.path.join(rec, "tmp"))
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={rec}/tmp",
                    *run.JVM_OPENS, "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                    "graft.perfbench.Main", "--data", run.DATA, "--record", rec],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    # every query is compared: no subset or skip list applies to a record
    for var in ("CHECK_SKIP", "CHECK_ONLY"):
        os.environ.pop(var, None)
    if check_oracle.main(run.DATA, rec) != 0:
        print("nothing recorded")
        return 1
    hashes = run.read_json(os.path.join(rec, "hashes.json"))
    with open(run.EXPECT, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
