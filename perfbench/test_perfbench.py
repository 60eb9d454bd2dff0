"""The benchmark's own test, at tiny input size (a few minutes):

    python3 perfbench/test_perfbench.py

- every metric BENCHMARK.json names is emitted, with its unit, in the mode
  that owns it, by every listed workload, and a clean run counts no failed
  operation; the query suite, which BENCHMARK.json does not list, emits
  the end-to-end metrics and its 36 module-span metrics;
- an output damaged on purpose is counted as a failed operation (and in
  ops_failed_ratio), and the run exits non-zero;
- without the program's sources the benchmark exits non-zero and prints
  no result.
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
SCRATCH = os.path.join(ROOT, ".perfbench_work")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--size", "tiny", "--seconds", "1", "--seed", "7", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class BenchmarkTest(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        for m in wanted:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})

    def test_every_metric_is_emitted(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, r, err = bench("--workload", w["name"], "--trace", str(trace))
                    self.assertEqual(rc, 0, err[-3000:])
                    self.check_metrics(r, SPEC[key])
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)

    def test_query_suite_emits_its_metrics(self):
        sys.path.insert(0, HERE)
        import run
        spans = [{"name": n, "unit": run.PER_LAYER_UNITS[n.rsplit(".", 1)[1]]}
                 for n in run.PER_LAYER if n.startswith("queries.")]
        self.assertEqual(len(spans), 36)
        for trace, wanted in ((0, SPEC["end_to_end"]), (1, spans)):
            with self.subTest(trace=trace):
                rc, r, err = bench("--workload", "query_suite", "--trace", str(trace))
                self.assertEqual(rc, 0, err[-3000:])
                self.check_metrics(r, wanted)
                self.assertTrue(r["correct"])

    def test_damaged_output_is_counted(self):
        for workload, op in (("sentiment_chain", "score"), ("sentiment_chain", "preprocess"),
                             ("query_suite", "q_unpivot"), ("curate_corpus", "curate")):
            os.makedirs(SCRATCH, exist_ok=True)
            with self.subTest(op=op), tempfile.TemporaryDirectory(dir=SCRATCH) as d:
                record = os.path.join(d, "record.json")
                rc, r, err = bench("--workload", workload, "--trace", "0",
                                   "--corrupt", op, "--record", record)
                self.assertEqual(rc, 1, err[-3000:])
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["failed"], 1)
                with open(record) as f:
                    ratio = json.load(f)["workload_metrics"]["ops_failed_ratio"]
                self.assertAlmostEqual(ratio, r["failed"] / r["attempted"])
                self.assertIn(f"FAILED {op}", err)

    def test_without_program_sources_no_result(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", "__pycache__"))
            rc, r, err = bench("--workload", SPEC["workloads"][0]["name"],
                               "--trace", "0", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(r)


if __name__ == "__main__":
    unittest.main(verbosity=2)
