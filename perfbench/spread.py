#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's median and
quartile spread (Q3 - Q1 as a share of the median).

    python3 perfbench/spread.py --workload search_mix --seeds 1-10 --seconds 12 [--out runs.jsonl]

Run from the root of a checkout. Each run's last stdout line is appended
to ``--out`` (JSON lines) when given. Use it to check that the
benchmark is steady before trusting a comparison: every end-to-end
metric's spread should sit well inside its bound in BENCHMARK.json.
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


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {}
    bj = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(bj):
        with open(bj) as f:
            bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    bad = 0
    walls = []
    for s in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": s, **res}) + "\n")
        if not res["correct"]:
            bad += 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: wall={walls[-1]:.1f}s " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
    if walls:
        print(f"{args.workload:14s} run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else ("  within bound" if spread <= b else "  OVER"))
        print(f"{args.workload:14s} {k:22s} n={len(vs):2d} median={med:12.5g} spread={spread:7.4f}"
              + (f" bound={b}" if b is not None else "") + flag)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
