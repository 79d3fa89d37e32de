"""Smoke tests for the benchmark itself, at tiny input sizes.

    python3 -m unittest perfbench/test_smoke.py     # from the repository root

Each workload runs once untraced, once traced and once with a corrupted
expected row or hash. The runs take a few minutes in all; the first one
builds the program if it is not built yet.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# every workload the harness runs, whether or not BENCHMARK.json lists it
WORKLOADS = ["ingest_1k", "backfill", "batch_suite"]
# end-to-end figures each workload prints beyond BENCHMARK.json's list
OWN = {"ingest_1k": ["visible_p50_ms", "visible_p90_ms", "read_p50_ms", "read_p99_ms",
                     "achieved_frac"],
       "backfill": ["rows_per_s", "visible_ms"],
       "batch_suite": ["suite_s"]}


def run(workload, *extra, trace=0, seconds=3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)


def metric_lines(stdout):
    """name -> unit, from the `metric <name> <value> <unit> n=<n>` lines."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 5 and parts[0] == "metric":
            float(parts[2])
            out[parts[1]] = parts[3]
    return out


class Smoke(unittest.TestCase):
    def check_result_line(self, r, names):
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(last["failed"], 0)
        self.assertEqual(set(last["metrics"]), set(names))
        for m in last["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))
            self.assertTrue(m["unit"])

    def test_untraced_prints_every_metric_with_unit(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                self.assertIn("config ", r.stdout)
                printed = metric_lines(r.stdout)
                for name in [m["name"] for m in SPEC["end_to_end"]] + OWN[w] + ["failed_frac"]:
                    self.assertIn(name, printed)
                    self.assertTrue(printed[name])
                self.check_result_line(r, [m["name"] for m in SPEC["end_to_end"]])

    def test_traced_run_writes_spans_and_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                spans = ROOT / ".bench_build" / "perfbench" / "spans" / f"{w}-7.jsonl"
                spans.unlink(missing_ok=True)
                r = run(w, trace=1)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                self.assertTrue(spans.exists())
                self.assertGreater(len(spans.read_text().splitlines()), 0)
                self.check_result_line(r, [m["name"] for m in SPEC["per_layer"]])

    def test_corrupted_expectation_fails_the_command(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, "--corrupt-expected")
                self.assertNotEqual(r.returncode, 0)
                self.assertFalse(json.loads(r.stdout.strip().splitlines()[-1])["correct"])


if __name__ == "__main__":
    unittest.main()
