#!/usr/bin/env python3
"""Run one benchmark workload against the engine source beside this directory.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload corpus_backfill --seed 1 --seconds 12 --trace 0

The first run builds the engine together with the benchmark (sbt, offline,
Spark from /opt/spark/jars) and later runs reuse the build while no source
changed. The benchmark JVM writes only under `.bench_build/` in the checkout.
The last line of standard output is the result object; human-readable lines
come before it. Exit code 0 only when a result was printed.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# The curation suite reads this fixed, read-only table set (seed 42).
TESTDATA = "/root/testdata/sf0.01"
WORKLOADS = ("corpus_backfill", "curation_suite", "ingest_pit")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap: peak RSS then moves with the JVM's memory
# outside the heap, not with how far the collector happened to grow it.
HEAP = "3g"
# Spark 4 on JDK 17 needs these outside spark-submit, as in the engine's build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over every file the build compiles or reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or interruption, and wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t = time.time()
    try:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile", "Compile/copyResources"],
                          HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s", 3)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def main():
    # a terminated runner still stops the build or benchmark JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine source at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")

    digest = source_digest()
    build(digest)

    # a run's scratch and data start empty; digests recorded by earlier runs
    # and their result artifacts stay
    for d in ("spark-local", "warehouse", "data", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK,
        "--testdata", TESTDATA, "--source", f"sha256:{digest} git:{git_commit()}"]
    try:
        rc, out = run_group(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} exceeded {RUN_TIMEOUT_S} s", 4)
    lines = out.decode("utf-8", "replace").splitlines()
    if rc != 0 or not lines:
        fail(f"{a.workload} failed (exit {rc})", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
