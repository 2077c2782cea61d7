#!/usr/bin/env python3
"""Fast tests of the benchmark runner.

Every workload runs once per mode at tiny size (small inputs, one set-up)
for a couple of seconds; each result must name every metric BENCHMARK.json
lists for that mode, with its unit, and pass its output checks. Run from
the root of a graft checkout:

    python3 perfbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ann_query", "cdc_mutate", "corpus_curate")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(cwd, workload, trace, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


class TinyRuns(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        report = json.loads(lines[0])["report"]
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], report)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        for stamp in ("seed", "sizes", "nproc", "loadavg_1m_start", "loadavg_1m_end"):
            self.assertIn(stamp, report)
        self.assertTrue(all(report["checks"].values()), report["checks"])
        # every timing carries its sample count
        self.assertIn("n", report["request_ms"])
        if trace:
            self.assertTrue(os.path.isfile(report["trace_file"]))
        else:
            for m in SPEC["end_to_end"]:
                self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])


for _w in WORKLOADS:
    for _t in (0, 1):
        setattr(TinyRuns, f"test_{_w}_trace{_t}",
                lambda self, w=_w, t=_t: self.check(w, t))


class MissingProgram(unittest.TestCase):
    def test_refuses_a_tree_without_graft_sources(self):
        bare = os.path.join(BENCH, "work", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copy(os.path.join(BENCH, "run.py"), os.path.join(bare, "perfbench"))
        try:
            p = run(bare, "cdc_mutate", 0, timeout=60)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
