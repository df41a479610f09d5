#!/usr/bin/env python3
"""Production-path benchmark of graft: pipeline.Main -> CheckpointedRun.

Run from the repository root:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

Builds src/main/scala plus the harness under perfbench/src with scalac
(Spark's own jars, found through SPARK_HOME or spark-submit on PATH) into
$CARGO_TARGET_DIR (default .bench_build), keyed by a hash of the sources.
Then it starts one fresh JVM, whose set-up (session plus the first
pipeline call on a tiny corpus) is timed as setup_s; it then generates
the seed's corpus, computes the reference labels, runs the timed jobs
and checks every output. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1
the per_layer metrics, and writes the run's spans as one JSON file.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_FILE = os.path.join(HERE, os.pardir, "BENCHMARK.json")
DEADLINE_S = 175
# what spark-submit passes to every JVM it starts on Java 17+
# (org.apache.spark.launcher.JavaModuleOptions)
SUBMIT_JVM_OPTIONS = ["--add-modules=jdk.incubator.vector"] + [
    "--add-opens=%s=ALL-UNNAMED" % p for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar", "java.security.jgss/sun.security.krb5"]] + [
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dio.netty.allocator.type=pooled",
    "-Dio.netty.handler.ssl.defaultEndpointVerificationAlgorithm=NONE"]
# spark-submit's default spark.driver.memory
DRIVER_HEAP = "1g"


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not program:
        raise BenchError("no program sources under src/main/scala; "
                         "run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    return program + harness


def build(jars):
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(base, "perfbench-" + digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return base, classes
    tmp = classes + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        raise BenchError("scalac failed")
    os.replace(tmp, classes)
    return base, classes


class Jvm:
    """One harness JVM; records when it prints PERFBENCH_READY."""

    def __init__(self, args, classes, jars, work, deadline):
        os.makedirs(work)
        self.log_path = os.path.join(work, "jvm.log")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ([java()] + SUBMIT_JVM_OPTIONS +
               ["-Xmx" + DRIVER_HEAP, "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + tmp,
                "-cp", classes + os.pathsep + jars, "perfbench.PerfBench"] + args)
        self.started = time.monotonic()
        self.ready_s = None
        self.lines = []
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()),
                                     self.proc.kill)
        self.timer.start()

    def wait(self):
        try:
            for raw in self.proc.stdout:
                line = raw.decode(errors="replace").rstrip("\n")
                if line == "PERFBENCH_READY" and self.ready_s is None:
                    self.ready_s = time.monotonic() - self.started
                self.lines.append(line)
            code = self.proc.wait()
        finally:
            self.timer.cancel()
            self.stop()
            self.proc.stdout.close()
        if code != 0:
            with open(self.log_path, "rb") as f:
                tail = f.read()[-6000:].decode(errors="replace")
            sys.stderr.write(tail)
            raise BenchError("harness JVM exited with %d" % code)
        return self

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()

    def tagged(self, tag):
        hits = [l[len(tag) + 1:] for l in self.lines if l.startswith(tag + " ")]
        if not hits:
            raise BenchError("harness printed no %s line" % tag)
        return hits[-1]


def run(args):
    with open(SPEC_FILE) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise BenchError("unknown workload %r (known: %s)" % (args.workload, ", ".join(names)))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    jars = spark_jars()
    base, classes = build(jars)
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.abspath(os.path.join(base, "perfbench-work-%d" % os.getpid()))
    traces = os.path.join(base, "perfbench-traces")
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.abspath(os.path.join(
        traces, "%s-seed%d-%d.json" % (args.workload, args.seed, os.getpid())))
    setup_corpus = os.path.join(HERE, "setup-corpus")
    try:
        jvm = Jvm(["run", args.workload, args.scale, work, setup_corpus, str(args.seed),
                   str(args.seconds), str(args.trace), trace_file],
                  classes, jars, work, deadline).wait()
        result = json.loads(jvm.tagged("PERFBENCH_RESULT"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(result["metrics"])
    if not args.trace:
        measured["setup_s"] = jvm.ready_s
    for err in result["errors"]:
        sys.stderr.write("perfbench: %s\n" % err)
    for key, value in result["info"].items():
        sys.stderr.write("perfbench: %s = %s\n" % (key, value))
    missing = [n for n in units if n not in measured]
    correct = result["failed"] == 0 and not missing
    if missing:
        sys.stderr.write("perfbench: metrics not measured: %s\n" % ", ".join(missing))
    out = {
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": measured[n], "unit": u}
                    for n, u in units.items() if n in measured},
    }
    print(json.dumps(out))
    return 0 if correct else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # tiny corpora for the benchmark's own tests
    p.add_argument("--scale", choices=["full", "smoke"], default="full")
    args = p.parse_args()
    try:
        return run(args)
    except BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2


if __name__ == "__main__":
    sys.exit(main())
