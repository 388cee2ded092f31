#!/usr/bin/env python3
"""Run one workload of the queue benchmark and print its result.

    python3 qbench/run.py --workload tail|backlog|curate --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in its own JVM on local[nproc], and prints a
detail line followed by the result line
{"correct", "attempted", "failed", "metrics"}. Scratch data lives under
.bench_build/qbench/work and is removed when the run ends; a traced run
keeps its spans in .bench_build/qbench/traces.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tail", "backlog", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        cp, sha = build.build()
    except build.BuildError as e:
        sys.stderr.write("[qbench] build failed: %s\n" % e)
        return 2

    tag = "%s-%d-%d" % (a.workload, a.seed, os.getpid())
    work = os.path.join(build.OUT, "work", tag)
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false"] + build.JVM_OPENS +
           ["-cp", cp, "graft.qbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--commit", git_commit() + "+src:" + sha[:12],
            "--spans", os.path.join(traces, "%s-%d.jsonl" % (a.workload, a.seed))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        sys.stderr.write("[qbench] %s timed out after %d s\n" % (a.workload, RUN_TIMEOUT_S))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l.startswith('{"qbench_detail"'):
            print(l)
    if result is None:
        # the workload died before reporting: say so as a failed run
        sys.stderr.write("[qbench] %s exited %s without a result\n" % (a.workload, proc.returncode))
        result = '{"correct": false, "attempted": 1, "failed": 1, "metrics": {}}'
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
