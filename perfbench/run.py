#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repository and the
benchmark with sbt (offline); later runs reuse the build while the sources
are unchanged. Each run gets a private root under `.bench_build/` for the JVM
temp dir, Spark local dirs, artifact store and warehouses, deleted on exit.
See perfbench/README.md for the workloads and metrics.
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
REPO = os.path.dirname(HERE)
RUNTIME = os.path.join(HERE, "target", "bench-runtime")
WORKLOADS = ("daily_user", "registry")
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Everything the build reads: repository sources, the benchmark's
    sources and both builds' definitions."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded stamp matches the sources."""
    want = stamp()
    stamp_file = os.path.join(RUNTIME, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want \
            and os.path.exists(os.path.join(RUNTIME, "classpath")):
        return
    log("building (sbt benchRuntime)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Xmx2g -XX:-UsePerfData")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchRuntime"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        log("repository sources (src/main/scala/graft) not found; run from the repository root")
        return 2
    data = os.path.join(HERE, "data", "sf0.1")
    build()

    root = os.path.join(REPO, ".bench_build", f"perfbench-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(root, "tmp"))
    child = None

    def stop(signum, _frame):
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        cp = open(os.path.join(RUNTIME, "classpath")).read().strip()
        opts = [o for o in open(os.path.join(RUNTIME, "javaopts")).read().splitlines() if o]
        cmd = (["java"] + opts +
               [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
                "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--root", root, "--data", data,
                "--expected", os.path.join(HERE, "expected.tsv"),
                "--launch-ms", str(int(time.time() * 1000))])
        child = subprocess.Popen(cmd, cwd=REPO, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=sys.stderr,
                                 start_new_session=True, text=True)
        try:
            out, _ = child.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
            return 3
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        for line in lines:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = line
            else:
                print(line)
        if result is None:
            log(f"no result line (JVM exit {child.returncode})")
            return child.returncode or 3
        print(result, flush=True)
        return child.returncode
    finally:
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
