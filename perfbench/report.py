"""Steadiness report: run one workload N times and summarise each metric.

    python3 perfbench/report.py --workload daily_batch --runs 10 --seed 100

Each run gets its own seed (``--seed``, ``--seed + 1``, ...). The report
prints every run's metrics beside the CPU seconds the hypervisor stole
from this host during that run (``/proc/stat``), then each metric's
median, quartiles and spread (quartile distance over median). Steal is
context only: no run is gated, retried or dropped on it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def steal_s() -> float:
    """Stolen CPU seconds summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()

    rows = []
    for i in range(args.runs):
        seed = args.seed + i
        s0, t0 = steal_s(), time.perf_counter()
        proc = subprocess.run(
            [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", args.workload,
                "--seed", str(seed),
                "--seconds", str(args.seconds),
                "--trace", "0",
            ],
            capture_output=True,
            text=True,
        )
        wall, steal = time.perf_counter() - t0, steal_s() - s0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {
            "seed": seed,
            "wall_s": wall,
            "steal_s": steal,
            "correct": out["correct"],
            "attempted": out["attempted"],
            "failed": out["failed"],
            **{k: v["value"] for k, v in out["metrics"].items()},
        }
        rows.append(row)
        print(" ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                       for k, v in row.items()), flush=True)
    summary = {}
    for k in rows[0] if rows else ():
        vals = [r[k] for r in rows]
        if k in ("seed", "correct") or len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[k] = {
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
        print(f"{k:>14}: median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {summary[k]['spread']:.3f}")
    print(json.dumps({"workload": args.workload, "runs": rows, "summary": summary}))


if __name__ == "__main__":
    main()
