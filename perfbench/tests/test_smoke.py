"""Smoke test of the benchmark: every workload, briefly, at sf0.001.

Runs `perfbench/run.py` for each workload with --trace 0 and --trace 1
and checks the output contract: the last stdout line is one JSON object
with exactly correct/attempted/failed/metrics, the correctness gate
passed, no operation failed, and every metric BENCHMARK.json declares
prints with its unit. Also checks that the benchmark refuses to run
without the server sources.

Usage (from the repository root; a few minutes, it builds on first use):
    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import layers  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, traced, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(traced), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, traced):
        code, out, err = run(workload, traced)
        self.assertEqual(code, 0, out[-3000:] + err[-3000:])
        self.assertIn("correctness gate passed", out)
        res = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(res["correct"], True)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        declared = BENCH["per_layer" if traced else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        for m in declared:  # the readable report names every metric too
            self.assertIn(m["name"], out.rsplit("\n", 2)[0])

    def test_declarations(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(workloads.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]],
                         layers.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in BENCH["end_to_end"]])

    def test_refuses_without_sources(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, out, _ = run("pg_short", 0, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertNotIn('"metrics"', out)


for _w in workloads.WORKLOADS:
    for _t in (0, 1):
        setattr(SmokeTest, "test_%s_trace%d" % (_w, _t),
                lambda self, w=_w, t=_t: self.check(w, t))

if __name__ == "__main__":
    unittest.main()
