"""The benchmark's own tests. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They run the harness for a few seconds per case (about five minutes in all).
"""
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")


def harness(workload, seed, *extra):
    """Run the harness directly (one timed pass) and return its report."""
    classes, _, _ = build.build(ROOT, OUT)
    data = run.stage_registry(OUT, seed) if workload != "etl_daily" else run.DATA
    work = tempfile.mkdtemp(prefix="test-", dir=OUT)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        report = os.path.join(work, "report.json")
        subprocess.run(["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                        *run.JVM_OPENS, "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                        "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
                        "--seconds", "0", "--trace", "0", "--data", data, "--rows", run.table_rows(data), "--work", work,
                        "--expect", run.EXPECT, "--out", report, *extra],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=170)
        return run.read_json(report)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_py(env=None, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
                           "etl_daily", "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=cwd, env=env, capture_output=True, text=True, timeout=170)


class Determinism(unittest.TestCase):
    def test_same_seed_same_inputs_and_stub_counts(self):
        a, b, c = harness("etl_daily", 7), harness("etl_daily", 7), harness("etl_daily", 8)
        self.assertEqual(a["input_sha256"], b["input_sha256"])
        self.assertEqual(a["end_to_end"]["llm_calls"], b["end_to_end"]["llm_calls"])
        self.assertGreater(a["end_to_end"]["llm_calls"], 0)
        self.assertNotEqual(a["input_sha256"], c["input_sha256"])
        self.assertNotEqual(a["end_to_end"]["llm_calls"], c["end_to_end"]["llm_calls"])
        for r in (a, b, c):
            self.assertEqual(r["failed"], 0, r["failures"])

    def test_registry_inputs_follow_the_seed(self):
        def digest(seed):
            d = run.stage_registry(OUT, seed)
            return {t: pathlib.Path(d, f"{t}.parquet").read_bytes() for t in run.TABLES}
        shutil.rmtree(os.path.join(OUT, "inputs", "seed5"), ignore_errors=True)
        first = digest(5)
        shutil.rmtree(os.path.join(OUT, "inputs", "seed5"))
        self.assertEqual(first, digest(5))
        self.assertNotEqual(first["orders"], digest(6)["orders"])


class Checks(unittest.TestCase):
    def test_injected_wrong_result_raises_fail_frac(self):
        ok = harness("registry_mix", 3)
        bad = harness("registry_mix", 3, "--inject-wrong", "q04")
        self.assertEqual(ok["end_to_end"]["fail_frac"], 0.0, ok["failures"])
        self.assertGreater(bad["end_to_end"]["fail_frac"], 0.0)
        self.assertTrue(any("q04" in f for f in bad["failures"]))

    def test_injected_wrong_dashboard_is_caught(self):
        bad = harness("etl_daily", 3, "--inject-wrong", "etl_day")
        self.assertGreater(bad["end_to_end"]["fail_frac"], 0.0)

    def test_overrides_are_refused(self):
        for var in ("SPARK_GRAFT_ONLY", "GRAFT_STREAM_STATE_PARTS", "SPARK_GRAFT_BENCH_REPS",
                    "SPARK_GRAFT_STATE", "SPARK_GRAFT_SCRATCH"):
            r = run_py(env=dict(os.environ, **{var: "1"}))
            self.assertNotEqual(r.returncode, 0, var)
            self.assertEqual(r.stdout, "", var)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_py(cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
