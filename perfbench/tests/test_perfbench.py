"""Tests of the benchmark itself. From the repository root:

    python3 perfbench/tests/test_perfbench.py

They build the harness like perfbench/run.py does and start small JVMs, so
they take a few minutes.
"""

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
RUN_PY = os.path.join(BENCH_DIR, "run.py")
with open(os.path.join(BENCH_DIR, os.pardir, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = proc.stdout.decode().strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None, proc.stderr.decode()


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        metrics = SPEC["end_to_end"] + SPEC["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in SPEC["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")


class CorpusFingerprint(unittest.TestCase):
    def fingerprint(self, workload, seed):
        jars = run.spark_jars()
        base, classes = run.build(jars)
        work = os.path.abspath(os.path.join(base, "perfbench-test-%d-%d" % (os.getpid(), seed)))
        try:
            jvm = run.Jvm(["fingerprint", workload, "smoke", work,
                           os.path.join(BENCH_DIR, "setup-corpus"), str(seed)],
                          classes, jars, work, time.monotonic() + 175).wait()
            return jvm.tagged("PERFBENCH_FINGERPRINT")
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_same_seed_gives_the_same_corpus(self):
        for w in SPEC["workloads"]:
            a = self.fingerprint(w["name"], 11)
            self.assertEqual(a, self.fingerprint(w["name"], 11))
            self.assertNotEqual(a, self.fingerprint(w["name"], 12))


class Smoke(unittest.TestCase):
    """A tiny corpus of every workload passes the output check and emits
    every metric of its mode, with the unit BENCHMARK.json gives it."""

    def check(self, workload, trace):
        code, result, err = smoke(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(result["correct"], err[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
