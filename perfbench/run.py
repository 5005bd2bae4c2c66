#!/usr/bin/env python3
"""graft benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload curate_train --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The run

1. builds the engine from source together with the harness (perfbench/
   build.sbt, via sbt) when sources changed since the last build;
2. generates the workload's inputs from the seed (gen.py) under
   .bench_work/;
3. starts one JVM (graftbench.Main) on Sessions.local(<cpus>) that sets
   up, runs the untimed check pass, then the timed passes;
4. checks outputs against the invariants graft's specs assert, and
   prints a diagnostics line, then the result as the last stdout line:
   {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
   metrics are the end-to-end ones, with --trace 1 the per-layer ones
   (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
WORK_DIR = os.path.join(ROOT, ".bench_work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "1g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stopped(signum, _frame):
    # turn SIGTERM into an exception, so that `child` stops what it started
    raise SystemExit(128 + signum)


def child(cmd, timeout, **kw):
    """Run `cmd` to completion and return its exit code. It runs in a
    process group of its own, which is killed, and waited for, if it
    outlives `timeout` seconds or this process is stopped (sbt's launcher
    script starts its JVM as a child)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed; returns the
    runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    fp_file, cp_file = os.path.join(BUILD_DIR, "fingerprint"), os.path.join(BUILD_DIR, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    for f in (fp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        try:
            rc = child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], BUILD_LIMIT_S,
                       cwd=HERE, stdout=log, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("the build exceeded its time limit and was stopped", 3)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(BUILD_DIR, 'build.log')}", 3)
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(fp_file, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Class-data sharing: the first run after a build archives the classes its
    # JVM loaded when it exits (which adds about 20 s to that run); later runs
    # map them instead of loading them, which takes 5-10 s off JVM start and
    # the cold check pass on a 4-CPU host. Timed passes load no new classes.
    dump = not os.path.exists(CDS_ARCHIVE)
    cds = f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}" if dump else f"-XX:SharedArchiveFile={CDS_ARCHIVE}"
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m", cds,
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--seed", str(args.seed), "--cpus", str(cpus()), "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = child(cmd, max(1.0, deadline - time.monotonic()), cwd=work, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("the JVM exceeded the run time limit and was stopped", 4)
    # a failed archive dump (after the result was written) only means the
    # next run dumps again
    if not os.path.exists(out) or (rc != 0 and not dump):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the JVM failed (exit {rc}); its log and raw output stay in {work}", 5)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stopped)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing", 2)
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = gen.generate(args.workload, args.seed, work)
    res = run_jvm(cp, args, work, deadline)
    report = layers.reduce(res, inputs)
    print(json.dumps({"diagnostics": report["diagnostics"]}, sort_keys=True))
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": report["per_layer" if args.trace else "end_to_end"]},
                     sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
