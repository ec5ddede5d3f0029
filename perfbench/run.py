#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt on first use
(cached under perfbench/target, rebuilt when a source changes), then
runs one JVM that generates the workload's input from the seed, sets
up, measures for S seconds and checks the output against the
generator's ground truth. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Exits non-zero, without a result
line, when the build or the run fails, and with the result line but
exit code 1 when the output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "-Xmx3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build: both build definitions and all
    sources, plus where they live (the launch file holds absolute paths)."""
    h = hashlib.sha256(ROOT.encode())
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("program sources not found (%s missing)" % p)
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (exit %s), log in %s" % (rc, log))
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def declared(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    build()
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    work = os.path.join(OUT, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(OUT, "%s-%d.log" % (a.workload, a.seed))
    # no hsperfdata file under the system temp directory
    cmd = (["java"] + jvm_opts + [HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                 stdin=subprocess.DEVNULL, start_new_session=True, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.communicate()
                fail("run exceeded %d s, log in %s" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    with open(log, "a") as lf:
        for line in out.splitlines():
            if line.startswith("GRAFTBENCH_RESULT "):
                result = json.loads(line[len("GRAFTBENCH_RESULT "):])
            else:
                lf.write(line + "\n")
    if p.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("run failed (exit %s), log in %s" % (p.returncode, log))
    names = declared(a.trace)
    if names is not None and set(result["metrics"]) != names:
        fail("metrics differ from BENCHMARK.json: extra %s, missing %s" % (
            sorted(set(result["metrics"]) - names), sorted(names - set(result["metrics"]))))
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: OUTPUT CHECK FAILED: %d of %d wrong" % (
            result["failed"], result["attempted"]), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
