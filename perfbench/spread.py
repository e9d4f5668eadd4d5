#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the root of a graft checkout):

    python3 perfbench/spread.py --workload sar_upload --seeds 1-10 \
        [--trace 0] [--out runs.jsonl]

For every end-to-end metric (or per-layer metric with --trace 1) it prints
the median over the seeds and the distance between the first and third
quartile as a share of the median, next to the metric's bound from
BENCHMARK.json. Each run's summary line is appended to --out if given.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]),
             "--trace", str(a.trace)], capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        last = json.loads(p.stdout.strip().splitlines()[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s,
                                    "wall_s": round(walls[-1], 1), **last}) + "\n")
        print(f"seed {s}: {walls[-1]:.1f} s wall, correct={last['correct']} "
              f"attempted={last['attempted']} failed={last['failed']}")
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:40s} median {med:12.4f}  spread {spread:6.3f}"
              + (f"  bound {b}" if b is not None else ""))
    if walls:
        print(f"wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
