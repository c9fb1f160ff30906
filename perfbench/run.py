"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from `src/` (cached on the
source contents), generates the workload's inputs from the seed, runs one
JVM that drives the engine through its public API for `--seconds`, checks
every output against an independent computation, and prints one JSON line:
correctness, operations attempted and failed, and the metrics (end-to-end
with --trace 0, per-layer with --trace 1).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("medallion_stream", "table_service")
HEAP = "2g"
SLOTS = 2
JVM_TIMEOUT_S = 150


def java_command(root, classpath, args):
    # the fixed heap replaces build.sbt's -Xmx; the rest are its javaOptions
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={args['tmp']}"]
            + build.sbt_java_options(root)
            + ["-cp", classpath, "perfbench.Main", args["workload"], args["scratch"],
               str(args["seconds"]), str(args["trace"]), str(args["slots"])])


def run_jvm(cmd, cwd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help=argparse.SUPPRESS)
    ap.add_argument("--keep", action="store_true", help="keep the scratch directory")
    a = ap.parse_args(argv)

    started = time.time()
    root = os.getcwd()
    classpath = build.ensure_built(root)
    built = time.time()
    scratch = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.makedirs(os.path.join(scratch, "tmp"))
        man = gen.generate(a.workload, a.seed, a.sf, os.path.join(scratch, "inputs"))
        cmd = java_command(root, classpath, {
            "workload": a.workload, "scratch": scratch, "seconds": a.seconds,
            "trace": a.trace, "slots": min(SLOTS, os.cpu_count() or 1),
            "tmp": os.path.join(scratch, "tmp")})
        t0 = time.time()
        rc = run_jvm(cmd, scratch, os.path.join(scratch, "jvm.log"))
        wall = time.time() - t0
        out = os.path.join(scratch, "out")
        if rc != 0 or not os.path.exists(os.path.join(out, "summary.json")):
            with open(os.path.join(scratch, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"benchmark JVM failed (exit {rc}) after {wall:.1f}s\n")
            return 1
        with open(os.path.join(out, "summary.json")) as f:
            summary = json.load(f)
        with open(os.path.join(out, "ops.jsonl")) as f:
            ops = [json.loads(line) for line in f if line.strip()]
        problems = check.CHECKS[a.workload](man, out, summary, scratch)
        for p in problems:
            sys.stderr.write(f"check failed: {p}\n")
        m = (metrics.per_layer if a.trace else metrics.end_to_end)(a.workload, summary, ops)
        attempted = sum(1 for o in ops if o["cls"] in ("txn", "read"))
        sys.stderr.write(f"build {built - started:.1f}s, jvm {wall:.1f}s, total "
                         f"{time.time() - started:.1f}s, rounds {summary['rounds']}\n")
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": 0,
                          "metrics": m}))
        return 0
    finally:
        if not a.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
