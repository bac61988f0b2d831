#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale (a few sf0.001 queries,
a few hundred dedup rows). Run from the root of a checkout:

    python3 perfbench/test_smoke.py

It asserts that every named metric is printed with its unit and sample
count, that a failing op is counted as failed, that a corrupted reference
fingerprint fails the output check, and that unknown names are rejected.
Takes a few minutes; the first run also builds.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "smoke")
QUERIES = "q01_token_count,q09_exact_dedup"


def run(*args):
    """Runs one benchmark run; returns (exit code, report, result)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", *args], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    report = result = None
    if len(lines) >= 2:
        report = json.loads(lines[-2])["report"]
        result = json.loads(lines[-1])
    return p.returncode, report, result


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Smoke(unittest.TestCase):

    def assert_metrics(self, report, result, kind):
        """The result line carries every declared metric with its unit; the
        report gives each measured one with its unit and sample count."""
        units = {m["name"]: m["unit"] for m in declared()[kind]}
        self.assertEqual(sorted(result["metrics"]), sorted(units))
        for name, unit in units.items():
            self.assertEqual(result["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float), name)
        for name, m in report[kind].items():
            self.assertEqual(set(m), {"value", "unit", "samples"}, name)

    def test_ops_suite_prints_every_metric(self):
        rc, report, result = run("--workload", "ops_suite", "--trace", "0", "--queries", QUERIES)
        self.assertEqual(rc, 0)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assert_metrics(report, result, "end_to_end")
        for name in result["metrics"]:
            self.assertGreater(report["end_to_end"][name]["samples"], 0, name)

    def test_traced_runs_print_every_layer_and_reconcile(self):
        rc, report, result = run("--workload", "ops_suite", "--trace", "1", "--queries", QUERIES)
        self.assertEqual(rc, 0)
        self.assert_metrics(report, result, "per_layer")
        for name in ("query.q01_token_count_s", "ops.construct_s", "spark.jobs"):
            self.assertGreater(report["per_layer"][name]["samples"], 0, name)
        self.assertLess(abs(report["info"]["trace.unattributed_frac"]), 0.10)
        rc, report, result = run("--workload", "dedup_full", "--trace", "1", "--n", "400")
        self.assertEqual(rc, 0, report and report["failures"])
        for name in ("stage.s6_verified_edges_s", "stage.s7_jobs", "store.stages_written",
                     "import.warm_s", "spark.tasks", "host.ctl_s", "trace.overhead_frac"):
            self.assertGreater(report["per_layer"][name]["samples"], 0, name)
        self.assertGreater(report["per_layer"]["store.stages_reused"]["value"], 0)
        # per-stage times sum to the traced wall within 10%
        self.assertLess(abs(report["info"]["trace.unattributed_frac"]), 0.10)

    def test_benchmark_json_lists_every_layer(self):
        rc, report, result = run("--workload", "ops_suite", "--trace", "1")
        self.assertEqual(rc, 0)
        self.assert_metrics(report, result, "per_layer")
        # BENCHMARK.json names exactly the queries the workload times
        timed = {k for k, m in report["per_layer"].items() if k.startswith("query.")}
        self.assertEqual(timed, {k for k in result["metrics"] if k.startswith("query.")})

    def test_failing_op_is_counted_and_not_timed(self):
        rc, report, result = run("--workload", "ops_suite", "--trace", "0", "--queries", QUERIES,
                                 "--fail-op", "q01_token_count")
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any(f.startswith("q01_token_count") for f in report["failures"]))
        self.assertEqual(report["info"]["queries"], 1)  # only q09 was timed

    def test_corrupted_fingerprint_fails_the_check(self):
        os.makedirs(SCRATCH, exist_ok=True)
        ref = os.path.join(SCRATCH, "corrupted.tsv")
        with open(os.path.join(HERE, "reference", "ops_suite_sf0.001.tsv")) as f:
            lines = f.read().splitlines()
        with open(ref, "w") as f:
            for line in lines:
                name, fp = line.split("\t")
                f.write(f"{name}\t{fp}1\n" if name == "q09_exact_dedup" else line + "\n")
        rc, report, result = run("--workload", "ops_suite", "--trace", "0", "--queries", QUERIES,
                                 "--reference", ref)
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertTrue(any(f.startswith("q09_exact_dedup/check") for f in report["failures"]))

    def test_unknown_names_are_rejected(self):
        for args in (("--workload", "no_such_workload", "--trace", "0"),
                     ("--workload", "ops_suite", "--trace", "0", "--queries", "q99_nope")):
            rc, report, result = run(*args)
            self.assertNotEqual(rc, 0, args)
            self.assertIsNone(result, args)


if __name__ == "__main__":
    unittest.main()
