#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload rag_qa --seed 1 --seconds 20 --trace 0

Builds the library's sources together with the harness in perfbench/src
(sbt, offline; skipped when a build of the same sources exists), runs the
harness in one JVM, streams its report to stdout and prints the result as
one JSON object on the last line. Exits non-zero when the build or the run
fails, when it exceeds its time limit, or when a correctness check fails.
Generated inputs live under .bench_work/ and are deleted afterwards; spans
of traced runs are kept under .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("rag_qa", "ivf_serve", "ingest_upsert")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as the library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (LIBRARY_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work, out):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True,
                                start_new_session=True)
        watchdog = threading.Timer(
            RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        watchdog.start()
        try:
            for line in proc.stdout:
                print(line, end="", flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        why = ("timed out" if proc.returncode == -signal.SIGKILL
               else f"exited {proc.returncode}")
        print(f"perfbench: run {why}", file=sys.stderr)
        sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(LIBRARY_SRC):
        fail(f"no library sources at {os.path.relpath(LIBRARY_SRC, ROOT)}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    build()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    try:
        run_jvm(args, work, out)
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
