"""Smoke test of the benchmark itself: every workload, tiny inputs.

    python3 -m unittest perfbench/test_smoke.py      (from the repository root)

Runs `run.py --smoke` on each workload for a few seconds and checks the
summary line: outputs correct, no failed operation, every metric of
BENCHMARK.json present with its unit. A traced run of each workload in
BENCHMARK.json must report every per-layer metric, and the layers that
workload exercises above 0 (`run.py` marks the run incorrect otherwise).
Also checks that the benchmark refuses to run where the program's source
is missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["vault_load", "lake_ops", "query_mix", "stream_ingest"]


def run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def summary(self, workload, trace):
        p = run("--workload", workload, "--seed", "7", "--seconds", "3",
                "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], p.stdout)
        self.assertEqual(result["failed"], 0, p.stdout)
        self.assertGreaterEqual(result["attempted"], 1)
        return result

    def test_every_workload_end_to_end(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                metrics = self.summary(w, 0)["metrics"]
                for m in self.spec["end_to_end"]:
                    self.assertEqual(metrics[m["name"]]["unit"], m["unit"])
                    self.assertGreater(metrics[m["name"]]["value"], 0, m["name"])

    def test_traced_run_reports_layers(self):
        exercised = {"vault_load": ["loaders.build_s.pit", "runner.step_s",
                                    "streaming.add_batch_s", "txlog.commit_s"],
                     "lake_ops": ["sources.delta.commit_s", "scan.files_read.iceberg",
                                  "txlog.open_s"]}
        for w in (x["name"] for x in self.spec["workloads"]):
            with self.subTest(workload=w):
                metrics = self.summary(w, 1)["metrics"]
                self.assertEqual(sorted(metrics),
                                 sorted(m["name"] for m in self.spec["per_layer"]))
                for name in ["spark.jobs", "trace.overhead_s"] + exercised[w]:
                    self.assertGreater(metrics[name]["value"], 0, name)

    def test_refuses_without_program_source(self):
        bare = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run("--workload", "lake_ops", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
