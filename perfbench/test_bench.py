#!/usr/bin/env python3
"""The benchmark's own test: its checks must be able to fail.

    python3 perfbench/test_bench.py

1. BENCHMARK.json registers exactly the metrics run.py reports.
2. A planted throwing query and a planted wrong answer each raise `failed`
   and make the command exit 1.
3. Without graft's sources beside it, the command exits non-zero at once,
   printing no result.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def run(*extra, cwd=ROOT, script=HERE / "run.py"):
    return subprocess.run(
        [sys.executable, str(script), "--workload", "corpus-curation", "--seed", "1",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class BenchmarkTest(unittest.TestCase):
    def test_registered_metrics_match(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(metrics.WORKLOADS))

    def test_planted_throw_fails_the_run(self):
        proc = run("--plant", "throw")
        out = result(proc)
        self.assertEqual(proc.returncode, 1, proc.stderr[-2000:])
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        self.assertIn("planted_throw", proc.stderr)

    def test_planted_wrong_answer_fails_the_run(self):
        proc = run("--plant", "wrong")
        out = result(proc)
        self.assertEqual(proc.returncode, 1, proc.stderr[-2000:])
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        self.assertIn("oracle: q92_source_overlap", proc.stderr)

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / HERE.name,
                            ignore=shutil.ignore_patterns(".build", ".work", "target"))
            proc = run(cwd=d, script=Path(d) / HERE.name / "run.py")
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
