#!/usr/bin/env python3
"""Runs one benchmark workload and prints its JSON result as the last line.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch_lambda --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark from source
with sbt (perfbench/build.sbt) into ignored build directories; later runs
reuse that build while the sources are unchanged. Every file a run writes
stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["batch_lambda", "lake_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
HEAP = "-Xmx3g"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source and build file the benchmark is built from."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build used the same sources."""
    stamp = os.path.join(BUILD, "fingerprint")
    launch = os.path.join(BUILD, "launch.txt")
    fp = fingerprint()
    if os.path.exists(launch) and os.path.exists(stamp) \
            and open(stamp).read() == fp:
        return launch
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeLaunch"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build exceeded {BUILD_TIMEOUT_S} s, see {log}", 3)
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}), see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); "
                 "run from the root of a repository checkout", 2)
    launch = build()
    with open(launch) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file: the JVM would write it to the system temp dir
    cmd = [java, HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *jvm_opts, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", work, "--spans", spans]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
