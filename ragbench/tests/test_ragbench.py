#!/usr/bin/env python3
"""The benchmark's own tests: a tiny-size smoke run of every workload
(untraced and traced), the correctness checks rejecting a simulated faulty
program, the refusal to run without product sources, and the refusal to
compare results from different cpu counts.

    python3 -m unittest discover -s ragbench/tests -v     # from the repo root
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_remote", "ingest_live", "rag_query")


def run(workload, trace=0, inject="none", cwd=ROOT, seed=7):
    proc = subprocess.run(
        [sys.executable, "ragbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny", "--inject", inject],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    return proc


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def check_shape(self, r, trace):
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        want = self.spec["per_layer"] if trace else self.spec["end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_workload_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = result(run(w))
                self.check_shape(r, trace=0)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreater(r["attempted"], 0)
                for name, m in r["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_every_workload_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = result(run(w, trace=1))
                self.check_shape(r, trace=1)
                self.assertTrue(r["correct"], r)
                self.assertGreaterEqual(r["metrics"]["trace.coverage"]["value"], 0.9)
                if w == "ingest_remote":
                    self.assertLessEqual(r["metrics"]["embed.inflight_peak"]["value"], 8)


class ChecksReject(unittest.TestCase):
    def test_ingest_faults(self):
        for fault in ("drop", "dup", "vector"):
            with self.subTest(fault=fault):
                r = result(run("ingest_remote", inject=fault))
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["failed"], 1)

    def test_wrong_topk_id(self):
        r = result(run("rag_query", inject="topk"))
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


class Refusals(unittest.TestCase):
    def test_fails_without_product_sources(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(BENCH, ".work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work)
            shutil.copytree(BENCH, os.path.join(work, "ragbench"),
                            ignore=shutil.ignore_patterns(".build", ".work", ".results", "__pycache__"))
            proc = run("ingest_remote", cwd=work)
            self.assertNotEqual(proc.returncode, 0)
            self.assertFalse([l for l in proc.stdout.splitlines() if l.startswith("{")])
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_compare_refuses_other_cpu_counts(self):
        host = {"cpus": 4, "calib_s": 0.25, "calib_par_s": 0.26, "load1m": 0.5}
        res = {"correct": True, "attempted": 1, "failed": 0,
               "metrics": {"throughput": {"value": 1.0, "unit": "1/s"}}}
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for cpus in (4, 32):
                p = os.path.join(d, f"r{cpus}.json")
                with open(p, "w") as f:
                    json.dump({"info": {"workload": "rag_query", "host": dict(host, cpus=cpus)},
                               "result": res}, f)
                paths.append(p)
            proc = subprocess.run([sys.executable, os.path.join(BENCH, "compare.py")] + paths,
                                  stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertEqual(proc.returncode, 3)
            same = subprocess.run([sys.executable, os.path.join(BENCH, "compare.py"), paths[0], paths[0]],
                                  stdout=subprocess.PIPE, text=True)
            self.assertEqual(same.returncode, 0)


if __name__ == "__main__":
    unittest.main()
