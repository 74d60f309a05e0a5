#!/usr/bin/env python3
"""Runs one workload over several seeds and reports, per metric, the
median and the inter-quartile range as a share of the median (the
benchmark's steadiness check), plus each run's wall time.

    python3 perfbench/spread.py --workload lake_dml --seeds 1-10 [--seconds 10] [--trace 0]
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    values, walls = {}, []
    for seed in range(first, last + 1):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                            "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
                           capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{k}: median {med:.4g}  iqr/median {(q3 - q1) / med if med else float('nan'):.3f}")
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
