#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness from source,
then runs one workload for one seed and prints one JSON result line.

    python3 perfbench/run.py --workload ingest_month --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The build (sbt, offline) happens on the
first run and is reused while the sources are unchanged. With --trace 1
the run also writes its span file under perfbench/out/ and prints the
per-layer metrics instead of the end-to-end ones. --record 1 rewrites
perfbench/expected/queries.json from the current build (query workloads).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("ingest_month", "query_mix")
RUN_TIMEOUT_S = 170

# what spark-submit passes to a Spark 4 application on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the
    classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark install: set SPARK_HOME")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources not found at " +
             os.path.relpath(PROGRAM_SRC) + "; run from a full checkout")
    classpath = build()

    work = os.path.join(BENCH, ".work", "%s-%d-%d" % (
        a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS] +
           ["-Xms2g", "-Xmx2g", "-Dfile.encoding=UTF-8",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classpath, "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--record", a.record,
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "expected", "queries.json"),
            "--work", work, "--out", os.path.join(BENCH, "out")])
    env = dict(os.environ, LC_ALL="C.utf8")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail("run failed with exit code %d" % proc.returncode)
    result = json.loads(lines[-1])
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
