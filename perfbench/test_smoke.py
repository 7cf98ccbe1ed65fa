"""The benchmark's own tests: every workload at smoke sizes, one traced
run, and the refusal to run without graft's sources.

    python3 -m unittest perfbench/test_smoke.py      # from the repository root

Builds graft on first use, like run.py; takes a few minutes.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p, last


class SmokeTest(unittest.TestCase):
    def check(self, last, wanted):
        res = json.loads(last)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))

    def test_workloads_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                p, last = run("--workload", w["name"], "--seed", "7", "--seconds", "2",
                              "--trace", "0", "--smoke")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.check(last, SPEC["end_to_end"])
                for m in ("setup_s", "ops_per_s", "op_latency_ms"):
                    self.assertGreater(json.loads(last)["metrics"][m]["value"], 0)

    def test_traced_run_reports_every_layer(self):
        p, last = run("--workload", SPEC["workloads"][0]["name"], "--seed", "7",
                      "--seconds", "2", "--trace", "1", "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.check(last, SPEC["per_layer"])

    def test_refuses_without_sources(self):
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p, last = run("--workload", "stream_bulk", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("metrics", last)


if __name__ == "__main__":
    unittest.main()
