"""The benchmark's own tests, on the small `smoke` inputs.

  python3 -m unittest perfbench/test_perfbench.py    (from the repository root)

They run the real command (a fresh JVM per run, about a minute each) and
check the result line's shape and metric names against BENCHMARK.json, the
trace file, that a deliberately corrupted output is counted as a failure,
and that the command refuses to run without the repository's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def bench(*args, cwd=REPO):
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--scale", "smoke",
                           "--seconds", "1", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, proc.stderr


class ResultLine(unittest.TestCase):
    def assert_result(self, lines, names, units):
        self.assertLess(len(lines[-1]), 2000, "result line must survive a 2000-char tail")
        self.assertLessEqual(len(lines[-2]), 200, "summary line")
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(res["metrics"]), names)
        for name, m in res["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], (int, float))
            self.assertEqual(m["unit"], units[name])
        return res

    def test_end_to_end_metrics(self):
        names = [m["name"] for m in BENCH["end_to_end"]]
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        for workload, runs in (("analysis_ckpt", 1), ("curation", 2)):
            with self.subTest(workload=workload):
                rc, lines, err = bench("--workload", workload, "--seed", "1", "--trace", "0",
                                       "--runs", str(runs))
                self.assertEqual(rc, 0, err[-2000:])
                res = self.assert_result(lines, names, units)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertEqual(res["attempted"], 2 * runs)
                self.assertTrue(all(m["value"] > 0 for m in res["metrics"].values()))
                self.assertTrue(any(l.startswith(f"{workload} n={runs} cpus=") for l in lines))

    def test_traced_run(self):
        names = [m["name"] for m in BENCH["per_layer"]]
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        rc, lines, err = bench("--workload", "meds_etl", "--seed", "2", "--trace", "1")
        self.assertEqual(rc, 0, err[-2000:])
        res = self.assert_result(lines, names, units)
        self.assertTrue(res["correct"])
        with open(os.path.join(run.WORK, "traces", "meds_etl-s2.json")) as f:
            trace = json.load(f)
        # coverage: under 2% of the pipeline span is outside a named child
        self.assertTrue(trace["accounted"])
        self.assertLess(trace["pipeline_self_share"], 0.02)
        self.assertEqual(trace["unattributed_jobs"], 0)
        # the traced copy of Main's sequence fires Main.run's jobs
        self.assertTrue(trace["matches_main"])
        spans = trace["passes"][0]["spans"]
        self.assertGreater(spans["operators.run"]["jobs"], 0)

    def test_corrupted_output_is_a_failure(self):
        for workload in ("meds_etl", "analysis_ckpt"):
            with self.subTest(workload=workload):
                rc, lines, _ = bench("--workload", workload, "--seed", "1", "--trace", "0",
                                     "--corrupt")
                self.assertNotEqual(rc, 0)
                res = json.loads(lines[-1])
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)

    def test_refuses_without_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            t0 = time.time()
            rc, lines, _ = bench("--workload", "meds_etl", "--seed", "1", cwd=tmp)
            self.assertNotEqual(rc, 0)
            self.assertLess(time.time() - t0, 180)
            self.assertFalse(any(l.startswith("{") for l in lines))


class Helpers(unittest.TestCase):
    def test_quartiles(self):
        self.assertEqual(run.quartiles([2.0]), (2.0, 2.0, 2.0))
        q1, med, q3 = run.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(med, 3.0)
        self.assertLess(q1, med)
        self.assertGreater(q3, med)

    def test_metric_units(self):
        self.assertEqual(run.unit_of("operators.run.gap_s"), "s")
        self.assertEqual(run.unit_of("meds.write.spill_mb"), "MB")
        self.assertEqual(run.unit_of("pipeline.jobs"), "count")
        self.assertEqual(run.unit_of("meds.write.util"), "ratio")

    def test_benchmark_json_matches_command(self):
        self.assertEqual([m["name"] for m in BENCH["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in BENCH["per_layer"]], run.PER_LAYER)
        self.assertTrue({w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
