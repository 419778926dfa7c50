"""Smoke test of the benchmark: every workload at the tiny scale (serve_rw:
120 bootstrapped documents, two 100-document flushes, one round of reads
after each; keys_warm: three keys), untraced and traced. Asserts that the
run succeeds, that its checks pass, that every metric BENCHMARK.json names
is emitted, finite and tagged with its declared unit, and that the traced
run's spans carry the counts its layers are measured by. Takes a few
minutes; the first run also builds.

    python3 -m unittest perfbench/smoke/smoke_test.py     (from the repository root)
"""

import json
import math
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "tiny"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        return result["metrics"], p.stdout

    def check(self, metrics, wanted, positive):
        self.assertEqual(set(metrics), {m["name"] for m in wanted})
        for m in wanted:
            got = metrics[m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if positive:
                self.assertGreater(got["value"], 0, m["name"])

    def test_workloads(self):
        b = declared()
        for w in (x["name"] for x in b["workloads"]):
            with self.subTest(workload=w):
                metrics, _ = self.run_bench(w, "0")
                self.check(metrics, b["end_to_end"], positive=True)
                metrics, out = self.run_bench(w, "1")
                self.check(metrics, b["per_layer"], positive=False)
                spans = [l.split()[-1] for l in out.splitlines() if l.startswith("perfbench: spans ")]
                self.assertEqual(len(spans), 1)
                with open(os.path.join(ROOT, spans[0])) as f:
                    rows = [json.loads(l) for l in f]
                if w == "serve_rw":
                    # the counting file system is installed and sees the commits
                    flushes = [r for r in rows if r["name"] == "flush"]
                    self.assertTrue(flushes)
                    for r in flushes:
                        self.assertGreater(r["jobs"], 0)
                        self.assertGreater(r["fs_create"], 0)
                        self.assertGreater(r["fs_list"], 0)
                    self.assertTrue(any(r["name"].startswith("read.") for r in rows))
                    self.assertGreater(metrics["state.fs_create"]["value"], 0)
                else:
                    keys = [r for r in rows if r["name"].startswith("key.")]
                    self.assertTrue(keys)
                    self.assertTrue(all(r["jobs"] > 0 for r in keys))
                    self.assertGreater(metrics["ops.Dedup.s"]["value"], 0)
                    self.assertGreater(metrics["keys.q_span_dedup_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
