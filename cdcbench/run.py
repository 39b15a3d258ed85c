#!/usr/bin/env python3
"""CDC replication benchmark: one workload, one run.

    python3 cdcbench/run.py --workload binlog_hot --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into .bench_build/; later runs
reuse the build while no source file has changed. Work files live under
.bench_work/ and are removed when the run ends; result and span files are
kept under .bench_out/. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "sbt", "launch.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("binlog_hot", "jdbc_replica")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    pats = ["build.sbt", "src/main/scala/**/*.scala", "src/main/resources/**/*",
            "cdcbench/src/main/scala/**/*.scala", "cdcbench/build.sbt",
            "cdcbench/project/build.properties"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def digest(files):
    h = hashlib.sha256(ROOT.encode())  # the build records absolute paths
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    files = sources()
    if not any("/src/main/scala/graft/" in f for f in files):
        fail("no program sources under src/main/scala/graft: run from a full checkout")
    want = digest(files)
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out", 3)
    if code != 0:
        fail(f"build failed with exit code {code}", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    build(time.time() + BUILD_LIMIT_S)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(LAUNCH) as fh:
        launch = fh.read().splitlines()
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + launch
           + ["cdcbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # a run that hangs is killed, with every process it started
    timer = threading.Timer(RUN_LIMIT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None:
        fail(f"benchmark exited with code {code}", 5)
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
