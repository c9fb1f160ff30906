"""Run the benchmark on several seeds and report, per metric, the median and
the quartile spread as a share of the median (the statistic the bounds in
BENCHMARK.json are set from).

    python3 perfbench/spread.py --workload table_service --seeds 1-10 [--trace 1]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    results, walls = [], []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            sys.exit(f"seed {s} failed:\n{p.stderr[-3000:]}")
        results.append(json.loads(p.stdout.strip().splitlines()[-1]))
        print(f"seed {s} wall {walls[-1]:.1f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in results[-1]["metrics"].items()), flush=True)
    print(f"{a.workload}: {len(results)} runs, wall median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s, all correct: {all(r['correct'] for r in results)}, "
          f"failed/attempted: {sorted({(r['failed'], r['attempted']) for r in results})}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name:38s} median {med:14.4f} {results[0]['metrics'][name]['unit']:6s} "
              f"spread {spread:7.3f}")


if __name__ == "__main__":
    main()
