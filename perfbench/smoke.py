#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at a tiny size, untraced and traced, in one Spark
session, and fails (exit 1) unless each run is correct, prints exactly
the metrics BENCHMARK.json names with their units, reports non-zero
end-to-end values, and no traced span's self time exceeds its span.
Takes about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

import run
import workloads

TINY = {"SEARCH_DOCS": 800, "EVENTS": 2_000, "INGEST_BATCH_DOCS": 150}


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for k, v in TINY.items():
        setattr(workloads, k, v)
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.pin_env(work, len(os.sched_getaffinity(0)))
    problems: list[str] = []
    spark = run.start_session(work, len(os.sched_getaffinity(0)), traced=True)
    try:
        for w in [x["name"] for x in bench["workloads"]]:
            for trace in (0, 1):
                sub = os.path.join(work, f"{w}-{trace}")
                os.makedirs(sub)
                detail, res = run.measure(spark, w, seed=1, seconds=0.1, trace=bool(trace),
                                          work=sub, t_start=time.perf_counter())
                tag = f"{w} trace={trace}"
                if not res["correct"] or res["attempted"] < 1:
                    problems.append(f"{tag}: not correct {detail['errors']}")
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"{tag}: metric names/units differ: "
                                    f"{sorted(set(got.items()) ^ set(want[trace].items()))[:6]}")
                for k, v in res["metrics"].items():
                    if not math.isfinite(v["value"]) or (trace == 0 and v["value"] <= 0):
                        problems.append(f"{tag}: {k} = {v['value']}")
                if trace:
                    problems += [f"{tag}: {b}" for b in detail["self_time_violations"]]
                print(f"{tag}: ok={res['correct']} attempted={res['attempted']}", file=sys.stderr)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
