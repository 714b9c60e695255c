#!/usr/bin/env python
"""Benchmark harness (driver contract).

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus index-build throughput fields}.

Scaling mode (north-rule evidence, run manually):

    python bench.py --scaling            # local[2] vs local[8] subprocesses
    python bench.py --index-only         # one build at current SPARK_GRAFT_CPUS

N=2 vs 4N=8 sits in this VM's linear-compute regime. The box exposes 32
CPUs but a pure-CPU burn benchmark measures only ~1.8x more total
compute at 32 processes than at 8 (SMT / host quota), so 8-vs-32 cannot
physically show 4x scaling for CPU-bound work regardless of the
pipeline; 2-vs-8 can (measured 1.93x per doubling). Both pairs are
reported in BENCH.md.

The scaling run replicates the seeded documents corpus into a larger
web_pages table (deterministic; same input bytes for both cluster
sizes) and measures end-to-end index-build docs/sec at both
parallelism levels; efficiency = (T_big/T_small) / (cpus_big/cpus_small).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline query subset (keys must exist in __spark_entry__.queries()).
# bm25_* = the serving path (``bm25_match``); *_flat = the unlimited
# ``bm25_scores`` relation ordered and limited by the caller. Both run
# the same flat-postings plan; the names stay so BENCH rows compare
# across rounds.
BENCH_QUERIES = [
    "bm25_head_term",
    "bm25_head_term_flat",
    "bm25_and2",
    "bm25_and2_flat",
    "bm25_or3",
    "bm25_phrase2",
    "bm25_prefix",
    "bm25_phrase_prefix",
    "bm25_near2",
    "dsl_bool_must_filter",
    "dsl_multi_match",
    "dsl_terms_agg",
    "dsl_date_histogram",
    "dsl_subagg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_decontaminate",
    "ann_cosine_topk",
    "qc_quality_score",
    "qc_repetition",
    "scrub_pii",
    "segment_dedup",
    "dsl_top_hits",
    "dsl_significant_text",
    "sql_q1",
]


def _cpu_probe(nproc: int = 8, secs: float = 1.0) -> float:
    """Pure-CPU burn (M iters/s summed over nproc procs) — the
    tools/cpuprobe.py kernel, shortened. Steal only SUBTRACTS from this
    number, so 'rate near the best rate seen this process' == quiet."""
    import multiprocessing as mp

    def burn(q):
        t0 = time.time()
        n, x = 0, 1
        while time.time() - t0 < secs:
            for _ in range(100000):
                x = (x * 31 + 7) % 1000003
            n += 100000
        q.put(n / (time.time() - t0))

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q,)) for _ in range(nproc)]
    [p.start() for p in ps]
    [p.join() for p in ps]
    return round(sum(q.get() for _ in ps) / 1e6, 1)


_PROBE_BEST = 0.0
_PROBE_LOG: list[float] = []


def wait_quiet(max_wait: float = 60.0, frac: float = 0.9, nproc: int = 8) -> float:
    """Gate a timed section on host quiet: re-probe until the burn rate
    is within ``frac`` of the best rate this process has seen, or the
    wait budget runs out (the bench must terminate inside the driver's
    budget even on a permanently-noisy host — the per-query minima are
    the second line of defense). Returns the last probe reading; all
    readings land in ``probe_log`` of the bench JSON."""
    global _PROBE_BEST
    t0 = time.time()
    r = _cpu_probe(nproc)
    _PROBE_LOG.append(r)
    _PROBE_BEST = max(_PROBE_BEST, r)
    if len(_PROBE_LOG) == 1:
        # the first-ever probe ALWAYS matches 'best' (it defines it) —
        # take a second reading so a wave at t0 can't self-certify quiet
        time.sleep(1.0)
        r = _cpu_probe(nproc)
        _PROBE_LOG.append(r)
        _PROBE_BEST = max(_PROBE_BEST, r)
    while r < frac * _PROBE_BEST and time.time() - t0 < max_wait:
        time.sleep(2.0)
        r = _cpu_probe(nproc)
        _PROBE_LOG.append(r)
        _PROBE_BEST = max(_PROBE_BEST, r)
    return r


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _build_web_pages(spark, sf_dir: str, copies: int, out: str) -> str:
    """Materialize the deterministic web_pages fixture once (parquet)."""
    from gopensearch_spark.webtext import synth_web_pages

    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        # repartition the SEED before the copies-explode: one small
        # parquet file = one scan partition, so without this the whole
        # copies x docs synthesis runs as a single serial task
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(64)
        # 64 files so the scan stage parallelizes at every cluster size
        # (one small parquet file = one scan partition = serial tokenize)
        synth_web_pages(spark, docs, copies=copies).repartition(64).write.mode(
            "overwrite"
        ).parquet(out)
    return out


def run_index_build(spark, web_pages_path: str, idx_out: str) -> dict:
    """End-to-end: read web_pages -> extract -> postings+stats."""
    from gopensearch_spark.index import build_index
    from gopensearch_spark.webtext import prepare_corpus

    _fresh_dir(idx_out)
    web_pages = spark.read.parquet(web_pages_path)
    t0 = time.time()
    stats = build_index(
        spark,
        prepare_corpus(web_pages),
        idx_out,
        slices=1,
        term_buckets=None,  # corpus-sized (recommended_term_buckets)
        with_positions=True,  # FTS5 stores positions (detail=full); so do we
        input_lineage=f"parquet:{web_pages_path}",
    )
    dt = time.time() - t0
    return {
        "n_docs": stats["n_docs"],
        "total_tokens": stats["total_tokens"],
        "index_build_sec": round(dt, 3),
        "docs_per_sec": round(stats["n_docs"] / dt, 1),
    }


def run_index_build_median(spark, web_pages_path: str, idx_out: str, runs: int = 3) -> dict:
    """Best of N identical builds. This sandbox VM shows additive
    CPU-steal spikes at full core count (identical builds measured
    8s..52s); external steal only ever ADDS time, so the minimum is the
    unbiased estimator of the pipeline's own runtime (standard practice
    for noisy-host microbenchmarks). All samples are reported in
    ``build_runs`` for transparency."""
    samples = []
    for i in range(runs):
        wait_quiet(max_wait=45.0)  # don't start a timed build inside a steal wave
        samples.append(run_index_build(spark, web_pages_path, f"{idx_out}_r{i}"))
    samples.sort(key=lambda s: s["index_build_sec"])
    med = samples[0]
    shutil.rmtree(idx_out, ignore_errors=True)
    os.rename(f"{idx_out}_r{runs - 1}", idx_out)  # keep one build at the advertised path
    for i in range(runs - 1):
        shutil.rmtree(f"{idx_out}_r{i}", ignore_errors=True)
    return {**med, "build_runs": [s["index_build_sec"] for s in samples]}


def run_queries(spark, sf_dir: str, reps: int = 3) -> dict[str, float]:
    """Per-query MINIMUM over ``reps`` INTERLEAVED sweeps.

    Steal-robustness (VERDICT r4 #1): this host's CPU steal arrives in
    multi-minute waves. Back-to-back reps of one query put all of its
    samples inside the same wave; interleaving (sweep all queries, then
    repeat) spaces a query's samples ~a full sweep apart, so a wave
    pollutes one sample of many queries instead of every sample of a
    few. Steal only ADDS time, so the per-query minimum is the unbiased
    estimator of the query's own latency (same argument as
    run_index_build_median)."""
    import __spark_entry__ as entry

    qmap = entry.queries()
    # Warm the JVM + parquet footers once so timings measure the query,
    # not session startup.
    qmap["bm25_tail_term"](spark, sf_dir).collect()
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _ in range(reps):
        for name in BENCH_QUERIES:
            t0 = time.time()
            qmap[name](spark, sf_dir).collect()
            samples[name].append(time.time() - t0)
    return {name: round(min(rs), 3) for name, rs in samples.items()}


def bench_default() -> dict:
    from gopensearch_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]")
    # the fixture path embeds the sf so a cached corpus from a run at a
    # DIFFERENT scale factor can never leak into this one
    wp = _build_web_pages(
        spark, SF_DIR, copies=1,
        out=f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}",
    )
    # warm-up: identical build into a throwaway dir so the timed builds
    # measure the pipeline, not JVM codegen + Python-worker startup
    run_index_build(spark, wp, "/tmp/gopensearch_bench/idx_warm")
    build = run_index_build_median(spark, wp, "/tmp/gopensearch_bench/idx")

    # Point the entry module's index cache at a driver-contract build so
    # query timings don't pay a second index build.
    import __spark_entry__ as entry

    entry._index_dir(spark, SF_DIR)  # builds (or reuses) the /tmp cache
    wait_quiet(max_wait=45.0)
    queries = run_queries(spark, SF_DIR)
    total = round(sum(queries.values()) + build["index_build_sec"], 3)
    return {
        "metric": "index build + headline query latency",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_of(SF_DIR),
        "cpus": CPUS,
        "probe_log": _PROBE_LOG,  # M iters/s burn readings bracketing the timed sections
        **build,
    }


def bench_index_only(copies: int, runs: int = 3) -> dict:
    from gopensearch_spark.session import get_spark

    spark = get_spark("bench-index", master=f"local[{CPUS}]")
    wp = _build_web_pages(
        spark, SF_DIR, copies=copies, out=f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}_x{copies}"
    )
    # Warm-up: small build so JVM/codegen/Arrow paths are hot before timing.
    run_index_build(spark, _build_web_pages(spark, SF_DIR, 1, f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}"),
                    f"/tmp/gopensearch_bench/idx_warm_{CPUS}")
    build = run_index_build_median(spark, wp, f"/tmp/gopensearch_bench/idx_scale_{CPUS}", runs=runs)
    return {"metric": "index build", "unit": "sec", "cpus": CPUS, "copies": copies,
            "sf": _sf_of(SF_DIR), **build}


QSCALE_SET = [
    ("head_term", ["data"], "or", 10),
    ("and2", ["spark", "join"], "and", 10),
    ("or3", ["merge", "sort", "batch"], "or", 25),
    ("prefix", None, "prefix", 25),  # resolved below
]


def bench_query_leg(copies: int) -> dict:
    """One query-scaling leg at SPARK_GRAFT_CPUS cores against a
    copies x 5k-doc index (built by the first leg that finds it absent,
    outside the timed queries): the match serving set + a prefix query,
    per-query best-of-3 minima."""
    import time as _t

    from gopensearch_spark.search import prefix_match, wand_match
    from gopensearch_spark.session import get_spark

    spark = get_spark("bench-qleg", master=f"local[{CPUS}]")
    idx = f"/tmp/gopensearch_bench/idx_q_x{copies}"
    if not os.path.exists(os.path.join(idx, "_current")):
        wp = _build_web_pages(
            spark, SF_DIR, copies=copies, out=f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}_x{copies}"
        )
        run_index_build(spark, wp, idx)
    # COLD serving path (no warm_index df map), matching the r3/r4
    # methodology, so scaling legs stay comparable.
    wand_match(spark, idx, ["data"], k=5, mode="or").collect()  # warm JVM
    times: dict[str, float] = {}
    for name, terms, mode, k in QSCALE_SET:
        runs = []
        for _ in range(3):
            t0 = _t.time()
            if mode == "prefix":
                prefix_match(spark, idx, "dat", k=k).collect()
            else:
                wand_match(spark, idx, terms, k=k, mode=mode).collect()
            runs.append(_t.time() - t0)
        times[name] = round(min(runs), 3)
    from gopensearch_spark.index.builder import read_corpus_stats

    return {"cpus": CPUS, "queries": times,
            "n_docs": read_corpus_stats(idx)["n_docs"]}


def bench_query_scaling(small: int, big: int, copies: int) -> dict:
    """Query-latency scaling at two parallelism levels against ONE
    prebuilt index (build cost excluded by construction). Subprocess
    per leg so each gets a fresh JVM sized to its core count."""
    import math as _m

    results = {}
    for n in (small, big):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--query-leg",
             "--copies", str(copies)],
            capture_output=True, text=True, env=env,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if out.returncode != 0:
            raise RuntimeError(f"query leg cpus={n} failed:\n{out.stderr[-3000:]}")
        results[n] = json.loads(out.stdout.strip().splitlines()[-1])
    qs, qb = results[small]["queries"], results[big]["queries"]
    per_q = {
        name: {
            "small_sec": qs[name], "big_sec": qb[name],
            "speedup": round(qs[name] / qb[name], 3),
            "efficiency": round(qs[name] / qb[name] / (big / small), 3),
        }
        for name in qs
    }
    gm = _m.exp(sum(_m.log(v["speedup"]) for v in per_q.values()) / len(per_q))
    return {
        "metric": "query-latency scaling",
        "value": round(gm / (big / small), 3),
        "unit": "efficiency(geomean)",
        "copies": copies,
        "n_docs": results[small]["n_docs"],
        "small_cpus": small, "big_cpus": big,
        "queries": per_q,
    }


def bench_stream(copies: int, batches: int = 8, compact_every: int | None = None) -> dict:
    """Streaming micro-batch ingest throughput: drain a web_pages inbox
    in ~``batches`` micro-batches (maxFilesPerTrigger over the 64-file
    fixture) and report end-to-end docs/sec INCLUDING per-batch stats
    folds, term_dict rebuilds and (optionally) in-stream compaction,
    then a match query against the finished index."""
    import time as _t

    from gopensearch_spark.search import wand_match
    from gopensearch_spark.session import get_spark
    from gopensearch_spark.streaming import index_stream_available_now

    spark = get_spark("bench-stream", master=f"local[{CPUS}]")
    wp = _build_web_pages(
        spark, SF_DIR, copies=copies, out=f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}_x{copies}"
    )
    inbox = wp  # the fixture dir IS the inbox (64 parquet files)
    tag = f"x{copies}_c{compact_every or 0}"
    idx = _fresh_dir(f"/tmp/gopensearch_bench/stream_idx_{tag}")
    cp = _fresh_dir(f"/tmp/gopensearch_bench/stream_cp_{tag}")
    t0 = _t.time()
    stats = index_stream_available_now(
        spark, inbox, idx, cp,
        term_buckets=32,
        max_files_per_trigger=max(1, 64 // batches),
        compact_every=compact_every,
    )
    dt = _t.time() - t0
    import glob

    n_batches = len(glob.glob(os.path.join(idx, "_stream_batches", "batch-*.json")))
    runs = []
    wand_match(spark, idx, ["data"], k=5, mode="or").collect()  # warm
    for _ in range(3):
        q0 = _t.time()
        wand_match(spark, idx, ["spark", "join"], k=10, mode="and").collect()
        runs.append(_t.time() - q0)
    return {
        "metric": "streaming ingest",
        "unit": "sec",
        "cpus": CPUS,
        "copies": copies,
        "n_docs": stats["n_docs"],
        "n_batches": n_batches,
        "compact_every": compact_every,
        "stream_ingest_sec": round(dt, 3),
        "docs_per_sec": round(stats["n_docs"] / dt, 1),
        "wand_and2_sec": round(min(runs), 3),
    }


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def bench_positions_compare(copies: int, runs: int = 2) -> dict:
    """detail=none profile (VERDICT r3 #8): same corpus built WITH and
    WITHOUT per-posting position lists — build throughput + on-disk
    bytes for both. Positions exist only for phrase/NEAR; a corpus that
    doesn't need them should not pay for them at 100 TB."""
    from gopensearch_spark.index import build_index
    from gopensearch_spark.session import get_spark
    from gopensearch_spark.webtext import prepare_corpus

    spark = get_spark("bench-pos", master=f"local[{CPUS}]")
    wp = _build_web_pages(
        spark, SF_DIR, copies=copies, out=f"/tmp/gopensearch_bench/web_pages_{os.path.basename(os.path.normpath(SF_DIR))}_x{copies}"
    )
    corpus = prepare_corpus(spark.read.parquet(wp))
    out: dict = {"metric": "positions_profile", "cpus": CPUS, "copies": copies, "profiles": {}}
    for label, with_pos in (("detail_full", True), ("detail_none", False)):
        idx = f"/tmp/gopensearch_bench/idx_pos_{label}"
        samples = []
        for r in range(runs + 1):  # +1 warm-up, excluded
            _fresh_dir(idx)
            t0 = time.time()
            stats = build_index(spark, corpus, idx, slices=1, term_buckets=None,
                                with_positions=with_pos)
            if r > 0:
                samples.append(round(time.time() - t0, 3))
        out["profiles"][label] = {
            "build_sec": min(samples),
            "build_runs": samples,
            "docs_per_sec": round(stats["n_docs"] / min(samples), 1),
            "bytes_total": _du(idx),
            "bytes_postings": _du(os.path.join(idx, "postings")),
            "n_docs": stats["n_docs"],
        }
    f = out["profiles"]
    out["bytes_ratio_none_over_full"] = round(
        f["detail_none"]["bytes_total"] / f["detail_full"]["bytes_total"], 3)
    out["speedup_none_over_full"] = round(
        f["detail_full"]["build_sec"] / f["detail_none"]["build_sec"], 3)
    return out


def bench_scaling(small: int, big: int, copies: int, runs: int = 3) -> dict:
    """Same job + same input at two parallelism levels, subprocess-isolated
    so each gets a fresh JVM sized to its core count."""
    results = {}
    for n in (small, big):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--index-only",
             "--copies", str(copies), "--runs", str(runs)],
            capture_output=True, text=True, env=env, cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if out.returncode != 0:
            raise RuntimeError(f"scaling run cpus={n} failed:\n{out.stderr[-3000:]}")
        results[n] = json.loads(out.stdout.strip().splitlines()[-1])
    speedup = results[big]["docs_per_sec"] / results[small]["docs_per_sec"]
    eff = speedup / (big / small)
    return {
        "metric": "indexing-throughput scaling efficiency",
        "value": round(eff, 3),
        "unit": "efficiency",
        "sf": _sf_of(SF_DIR),
        "copies": copies,
        "small": {"cpus": small, **{k: results[small][k] for k in ("index_build_sec", "docs_per_sec", "n_docs")}},
        "big": {"cpus": big, **{k: results[big][k] for k in ("index_build_sec", "docs_per_sec", "n_docs")}},
        "speedup": round(speedup, 3),
    }


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--index-only", action="store_true")
    p.add_argument("--scaling", action="store_true")
    p.add_argument("--stream", action="store_true")
    p.add_argument("--batches", type=int, default=8)
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--copies", type=int, default=160)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--small", type=int, default=2)
    p.add_argument("--big", type=int, default=8)
    p.add_argument("--positions-compare", action="store_true")
    p.add_argument("--query-scaling", action="store_true")
    p.add_argument("--query-leg", action="store_true")
    a = p.parse_args()
    if a.scaling:
        print(json.dumps(bench_scaling(a.small, a.big, a.copies, runs=a.runs)))
    elif a.query_scaling:
        print(json.dumps(bench_query_scaling(a.small, a.big, a.copies)))
    elif a.query_leg:
        print(json.dumps(bench_query_leg(a.copies)))
    elif a.positions_compare:
        print(json.dumps(bench_positions_compare(a.copies, runs=a.runs)))
    elif a.stream:
        print(json.dumps(bench_stream(a.copies, batches=a.batches,
                                      compact_every=a.compact_every)))
    elif a.index_only:
        print(json.dumps(bench_index_only(a.copies, runs=a.runs)))
    else:
        print(json.dumps(bench_default()))
