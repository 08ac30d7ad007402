#!/usr/bin/env python3
"""Benchmark of the telco streaming topology.

Run from the repository root:

    python3 perfbench/run.py --workload stream_fanout --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark from source with sbt on first use
(again whenever a source file is newer than the build), runs one
workload in a fresh JVM, and prints one JSON result line last. The full
record of the run (provenance, per-batch latencies and output digests,
spans when tracing) goes to perfbench/out/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("stream_fanout", "stream_attach_churn")
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def tree_files(base, rels):
    """Regular files under base/rel for each rel, sorted."""
    found = []
    for rel in rels:
        top = os.path.join(base, rel)
        if os.path.isfile(top):
            found.append(top)
            continue
        for d, dirs, files in os.walk(top):
            dirs.sort()
            found.extend(os.path.join(d, f) for f in sorted(files))
    return found


def sha(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def program_files():
    return tree_files(ROOT, ["build.sbt", "project/build.properties", "src/main"])


def bench_files():
    return tree_files(HERE, ["build.sbt", "project/build.properties", "src", "run.py"])


def build():
    sources = program_files() + bench_files()
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= max(map(os.path.getmtime, sources)):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: build failed (log: %s)" % log)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "streaming",
                                       "TelcoPipelines.scala")):
        sys.exit("perfbench: the engine's sources are not beside perfbench/; "
                 "run from a full checkout")
    os.makedirs(OUT, exist_ok=True)
    build()

    with open(LAUNCH) as fh:
        launch = fh.read().splitlines()
    run_id = "%s-s%d-t%d-%d-%d" % (a.workload, a.seed, a.trace, int(time.time()), os.getpid())
    work = os.path.join(OUT, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(OUT, "records", run_id + ".json")
    log = os.path.join(OUT, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
           + launch + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--out", record, "--work", os.path.join(work, "data"),
                       "--commit", git_commit(), "--program-sha", sha(program_files()),
                       "--bench-sha", sha(bench_files())])
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                 text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("perfbench: run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: run failed with code %d (log: %s)" % (p.returncode, log))
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
