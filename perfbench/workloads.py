"""The benchmark's workloads.

Each workload sets up from the seed, runs a closed loop with one client
(the next operation starts when the previous one returned) until the
time budget is spent, then checks every output against an oracle. The
operation whose median latency ``op_p50_ms`` reports, and the work
that ``work_per_s`` counts:

- ``search_mix``: one ``_search`` request through ``Engine.search``
  (JSON in, JSON out); requests (``_search`` and ``_msearch``) per
  second.
- ``ingest_mixed``: one ``_search`` request against the streaming
  index, issued after each micro-batch; documents per second through
  the batch's cleaning (seven datapipe operators) and indexing (one
  streaming micro-batch).
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from layers import index_sizes

# sizes: set-up, loop and checks of one run take about a minute on 4 cores
SEARCH_DOCS = 4_000
EVENTS = 50_000
INGEST_BATCH_DOCS = 400
INGEST_MAX_BATCHES = 6  # batches generated; a run on 4 cores lands two
INGEST_COMPACT_EVERY = 2
INGEST_KINDS = ["match_head", "match_mid", "match_and2", "match_phrase", "prefix"]
INGEST_READ_ROUNDS = 4  # reads of each kind after every micro-batch
WARM_KINDS = ["match_head", "match_phrase", "terms_agg"]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    t_start: float  # process start, the origin of setup_s
    tracer: object | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


@dataclass
class Result:
    setup_s: float
    op_ms: list[float]
    work: float  # units of work done in work_s seconds
    work_s: float
    wall_s: float  # length of the measured loop
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    n_kdocs: float = 0.0  # input docs of all traced writes/operators, in thousands
    index_dir: str | None = None
    index_docs: int = 0


def pct(xs, q) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def _timed(ctx: Ctx, name: str, fn):
    """(result or exception, ms) of ``fn()`` inside an ``op`` span."""
    t = time.perf_counter()
    try:
        with ctx.span(f"op.{name}"):
            out = fn()
    except Exception as ex:  # a failed operation is counted, not fatal
        out = ex
    return out, (time.perf_counter() - t) * 1e3


def _check_all(text, events, done, errors) -> int:
    """Check (kind, body, resp) requests; returns how many failed."""
    failed = 0
    for kind, body, resp in done:
        pairs = list(zip(body["lines"][1::2], resp)) if kind == "msearch" else [(body, resp)]
        for b, r in pairs:
            err = oracle.check_request(text, events, b, r)
            if err:
                errors.append(err[:300])
                failed += 1
                break
    return failed


# --- search_mix -------------------------------------------------------------

def search_mix(ctx: Ctx) -> Result:
    from gopensearch_spark.dsl import Engine
    from gopensearch_spark.index import build_index
    from gopensearch_spark.search import warm_index

    spark, rng = ctx.spark, np.random.default_rng([ctx.seed, 10])
    c = gen.corpus(ctx.seed, SEARCH_DOCS)
    ev = gen.events(ctx.seed, EVENTS)
    docs_path = os.path.join(ctx.work, "docs", "docs.parquet")
    ev_path = os.path.join(ctx.work, "events", "events.parquet")
    gen.write_docs(c, docs_path)
    os.makedirs(os.path.dirname(ev_path))
    pq.write_table(ev, ev_path)
    c.extra["present_ranks"] = gen.present_ranks(c)
    idx = os.path.join(ctx.work, "index")
    t_build = time.perf_counter()
    stats = build_index(spark, spark.read.parquet(docs_path), idx, with_positions=True,
                        num_segments=None)
    build_s = time.perf_counter() - t_build
    warm_index(spark, idx)
    e = Engine(spark)
    e.create_index("docs", spark.read.parquet(docs_path), text_field="text", index_dir=idx)
    e.create_index("events", spark.read.parquet(ev_path), json_col="props", id_col="event_id")
    # first requests load the scoring kernels: part of set-up
    warm_rng = np.random.default_rng([ctx.seed, 11])
    for kind in WARM_KINDS:
        e.search(*gen.request(warm_rng, c, kind))
    setup_s = time.perf_counter() - ctx.t_start

    done, errors, ms_by_kind = [], [], []
    attempted = 0
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    while time.perf_counter() < deadline:  # whole cycles: a fixed mix per run
        for kind, index, body in gen.search_cycle(rng, c):
            attempted += 1
            if kind == "msearch":
                resp, ms = _timed(ctx, kind, lambda: e.msearch(body["lines"]))
            else:
                resp, ms = _timed(ctx, kind, lambda: e.search(index, body))
            if isinstance(resp, Exception):
                errors.append(f"{kind}: {type(resp).__name__}: {resp}"[:300])
                continue
            done.append((kind, body, resp))
            ms_by_kind.append((kind, ms))
    wall = time.perf_counter() - t0

    text = oracle.TextOracle()
    text.add(zip(c.doc_id, c.text, c.lang))
    events = oracle.EventOracle(ev)
    failed = (attempted - len(done)) + _check_all(text, events, done, errors)
    events.close()
    want = (c.n_docs, text.total_tokens())
    attempted += 1  # the build
    if (stats.get("n_docs"), stats.get("total_tokens")) != want:
        errors.append(f"index n_docs/total_tokens {stats.get('n_docs')}/"
                      f"{stats.get('total_tokens')} != {want}")
        failed += 1
    text.close()

    single = [ms for k, ms in ms_by_kind if k != "msearch"]
    multi = [ms for k, ms in ms_by_kind if k == "msearch"]
    props = c.properties()
    sizes, files = index_sizes(idx)
    return Result(
        setup_s=setup_s, op_ms=single, work=len(done), work_s=wall, wall_s=wall,
        attempted=attempted, failed=failed, errors=errors,
        detail={
            "inputs": {**props, "events": EVENTS},
            "search_p50_ms": pct(single, 50), "search_p90_ms": pct(single, 90),
            "search_samples": len(single),
            "msearch_p50_ms": pct(multi, 50), "msearch_samples": len(multi),
            "search_qps": len(done) / wall,
            "build_s": build_s, "build_docs_per_s": c.n_docs / build_s,
            "index_bytes_per_text_byte": sum(sizes.values()) / props["text_bytes"],
            "index_files": files,
            "p50_ms_by_kind": {k: pct([m for kk, m in ms_by_kind if kk == k], 50)
                               for k in sorted({k for k, _ in ms_by_kind})},
        },
        n_kdocs=c.n_docs / 1000, index_dir=idx, index_docs=c.n_docs,
    )


# --- ingest_mixed -------------------------------------------------------------

def _pipe_ops(bench):
    from gopensearch_spark import datapipe as dp

    return {
        "exact_dedup": dp.exact_dedup,
        "minhash_lsh_pairs": dp.minhash_lsh_pairs,
        "segment_dedup": dp.segment_dedup,
        "decontaminate": lambda d: dp.decontaminate(d, bench),
        "quality_score": dp.quality_score,
        "repetition_stats": dp.repetition_stats,
        "scrub_pii": dp.scrub_pii,
    }


def _batch_docs(spark, path: str, tag: int):
    """(doc_id, text) of one landed batch, tagged. The tag keeps batches
    apart for caches keyed on the analyzed plan, whose text omits the
    file path: ``minhash_lsh_pairs`` would otherwise serve one batch's
    signatures for every later batch of the same schema."""
    from pyspark.sql import functions as F

    from gopensearch_spark.webtext import doc_id_expr

    return spark.read.parquet(path).select(doc_id_expr("url"), "text").withColumn(
        "batch", F.lit(tag))


def _index_ids(spark, path: str, c: gen.Corpus, lo: int, hi: int) -> dict[int, int]:
    """Generator id -> index doc id for rows ``lo:hi`` of ``c``, landed
    under ``path``."""
    from gopensearch_spark.webtext import doc_id_expr

    by_url = dict((r.url, r.doc_id) for r in
                  spark.read.parquet(path).select("url", doc_id_expr("url")).collect())
    return {int(g): by_url[gen.url(int(g))] for g in c.doc_id[lo:hi]}


def _check_pipe(ops, docs, c: gen.Corpus, lo: int, hi: int, ids: dict[int, int]) -> dict[str, str]:
    """Operator -> error, for each operator whose output on rows
    ``lo:hi`` of ``c`` disagrees with the generator's ground truth.
    ``ids`` maps generator ids to the index's doc ids."""
    from pyspark.sql import functions as F

    bad = {}
    texts = c.text[lo:hi]
    gids = [int(i) for i in c.doc_id[lo:hi]]
    back = {ids[g]: g for g in gids}
    got = ops["exact_dedup"](docs).count()
    if got != len(set(texts)):
        bad["exact_dedup"] = f"{got} distinct texts, generated {len(set(texts))}"
    cl = oracle.dup_clusters(c.extra["dup_pairs"])
    found = {frozenset((back[int(r.id_a)], back[int(r.id_b)]))
             for r in ops["minhash_lsh_pairs"](docs).collect()}
    wrong = [p for p in found if len({cl.get(g, -g) for g in p}) != 1]
    inside = set(gids)
    planted = {frozenset(p) for p in c.extra["dup_pairs"] if set(p) <= inside}
    recall = len(planted & found) / len(planted) if planted else 1.0
    if wrong or recall < 0.9:
        bad["minhash_lsh_pairs"] = f"{len(wrong)} pairs outside planted clusters, recall {recall:.3f}"
    segs = {s.strip().lower() for t in texts for s in t.split("\n") if s.strip()}
    kept = ops["segment_dedup"](docs).agg(F.sum("n_kept")).first()[0]
    if kept != len(segs):
        bad["segment_dedup"] = f"{kept} kept segments, generated {len(segs)}"
    hit = {back[int(r.doc_id)] for r in ops["decontaminate"](docs).select("doc_id").distinct().collect()}
    want = c.extra["contaminated_ids"] & inside
    if hit != want:
        bad["decontaminate"] = f"{len(hit)} contaminated docs, planted {len(want)}"
    q = ops["quality_score"](docs).agg(F.count("*"), F.min("quality"), F.max("quality")).first()
    if q[0] != len(texts) or not 0.0 <= q[1] <= q[2] <= 1.0:
        bad["quality_score"] = f"rows/min/max {tuple(q)}"
    sample = {ids[g]: t for g, t in list(zip(gids, texts))[::max(1, len(gids) // 50)]}
    rep = {int(r.doc_id): r.repeated_token_frac for r in
           ops["repetition_stats"](docs).where(F.col("doc_id").isin(list(sample))).collect()}
    for i, t in sample.items():
        toks = t.split(" ")
        if abs(rep.get(i, -1.0) - (len(toks) - len(set(toks))) / len(toks)) > 1e-12:
            bad["repetition_stats"] = f"doc {i}: repeated_token_frac {rep.get(i)}"
            break
    red = ops["scrub_pii"](docs).agg(F.sum("n_redactions")).first()[0]
    want = len(c.extra["pii_ids"] & inside)
    if red != want:
        bad["scrub_pii"] = f"{red} redactions, planted {want}"
    return bad


def ingest_mixed(ctx: Ctx) -> Result:
    from gopensearch_spark.dsl import Engine
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import doc_id_expr

    spark, rng = ctx.spark, np.random.default_rng([ctx.seed, 20])
    c = gen.pipe_corpus(ctx.seed, INGEST_BATCH_DOCS * INGEST_MAX_BATCHES)
    c.extra["present_ranks"] = gen.present_ranks(c)
    inbox, idx, ckpt = (os.path.join(ctx.work, d) for d in ("inbox", "index", "checkpoint"))
    os.makedirs(inbox)
    bench_path = os.path.join(ctx.work, "bench", "bench.parquet")
    os.makedirs(os.path.dirname(bench_path))
    pq.write_table(pa.table({"bench_id": np.arange(len(c.extra["bench"]), dtype=np.int64),
                             "text": c.extra["bench"]}), bench_path)
    ops = _pipe_ops(spark.read.parquet(bench_path))
    e = Engine(spark)

    def batch_file(b: int) -> str:
        return os.path.join(inbox, f"batch-{b:05d}.parquet")

    def land(b: int) -> None:
        lo = b * INGEST_BATCH_DOCS
        gen.write_web_pages(c, batch_file(b), lo, lo + INGEST_BATCH_DOCS)

    def clean(b: int) -> dict[str, float]:
        """The seven datapipe operators over batch ``b``, each to a noop
        sink: {operator: ms}."""
        docs = _batch_docs(spark, batch_file(b), b)
        out = {}
        for name, op in ops.items():
            t = time.perf_counter()
            with ctx.span(f"datapipe.{name}"):
                op(docs).write.format("noop").mode("overwrite").save()
            out[name] = (time.perf_counter() - t) * 1e3
        return out

    def drain() -> dict:
        return index_stream_available_now(spark, inbox, idx, ckpt, with_positions=True,
                                          compact_every=INGEST_COMPACT_EVERY)

    # bootstrap: the stream's first (cold) batch, and each datapipe
    # operator's output on it checked against the generator's ground
    # truth, which also warms the operators up for the measured batches
    land(0)
    drain()
    bad = _check_pipe(ops, _batch_docs(spark, batch_file(0), -1), c, 0, INGEST_BATCH_DOCS,
                      _index_ids(spark, batch_file(0), c, 0, INGEST_BATCH_DOCS))
    setup_s = time.perf_counter() - ctx.t_start

    done, search_ms, cycles = [], [], []
    errors = [f"batch 0 {name}: {err}" for name, err in bad.items()]
    attempted, failed = len(ops), len(bad)
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    b = 1
    while time.perf_counter() < deadline and b < INGEST_MAX_BATCHES:
        land(b)
        attempted += len(ops) + 1
        op_ms, pipe_ms = _timed(ctx, "clean", lambda: clean(b))
        stats, drain_ms = _timed(ctx, "drain", drain)
        if isinstance(op_ms, Exception) or isinstance(stats, Exception):
            errors.append(f"batch {b}: {op_ms!r} / {stats!r}"[:300])
            failed += len(ops) + 1
            break
        cycles.append((b, op_ms, pipe_ms, stats, drain_ms))
        e.create_index("docs", spark.read.parquet(inbox).select(doc_id_expr("url"), "text", "lang"),
                       text_field="text", index_dir=idx)
        for kind in INGEST_KINDS * INGEST_READ_ROUNDS:
            index, body = gen.request(rng, c, kind)
            attempted += 1
            resp, ms = _timed(ctx, kind, lambda: e.search(index, body))
            if isinstance(resp, Exception):
                errors.append(f"{kind}: {type(resp).__name__}: {resp}"[:300])
                failed += 1
                continue
            done.append((b, body, resp))
            search_ms.append(ms)
        b += 1
    wall = time.perf_counter() - t0
    n_batches = b

    # oracles: FTS5 grows batch by batch with the index the reads saw
    ids = _index_ids(spark, inbox, c, 0, n_batches * INGEST_BATCH_DOCS)
    text = oracle.TextOracle()
    for k in range(n_batches):
        lo, hi = k * INGEST_BATCH_DOCS, (k + 1) * INGEST_BATCH_DOCS
        text.add(zip([ids[int(g)] for g in c.doc_id[lo:hi]], c.text[lo:hi], c.lang[lo:hi]))
        failed += _check_all(text, None, [("search", body, r) for bb, body, r in done if bb == k],
                             errors)
        for bb, _, _, stats, _ in cycles:
            if bb != k:
                continue
            want = (hi, text.total_tokens())
            if (stats.get("n_docs"), stats.get("total_tokens")) != want:
                errors.append(f"batch {k}: index n_docs/total_tokens "
                              f"{stats.get('n_docs')}/{stats.get('total_tokens')} != {want}")
                failed += 1
    text.close()

    n_docs = n_batches * INGEST_BATCH_DOCS
    measured = len(cycles) * INGEST_BATCH_DOCS
    busy_s = sum(p + d for _, _, p, _, d in cycles) / 1e3
    pipe_s = sum(p for _, _, p, _, _ in cycles) / 1e3
    text_bytes = sum(len(t) for t in c.text[:n_docs])
    sizes, files = index_sizes(idx)
    props = c.properties()
    props.update(docs=n_docs, text_bytes=text_bytes, tokens=int(c.n_tokens[:n_docs].sum()))
    return Result(
        setup_s=setup_s, op_ms=search_ms, work=measured, work_s=busy_s, wall_s=wall,
        attempted=attempted, failed=failed, errors=errors,
        detail={
            "inputs": props,
            "search_p50_ms": pct(search_ms, 50), "search_p90_ms": pct(search_ms, 90),
            "search_samples": len(search_ms),
            "ingest_docs_per_s": measured / busy_s if busy_s else 0.0,
            "ingest_batch_p50_s": pct([d for *_, d in cycles], 50) / 1e3,
            "pipe_docs_per_s": measured / pipe_s if pipe_s else 0.0,
            "p50_ms_by_operator": {k: pct([o[k] for _, o, *_ in cycles], 50) for k in ops},
            "batches": len(cycles), "compactions": n_batches // INGEST_COMPACT_EVERY,
            "index_bytes_per_text_byte": sum(sizes.values()) / text_bytes,
            "index_files": files,
        },
        n_kdocs=n_docs / 1000, index_dir=idx, index_docs=n_docs,
    )


WORKLOADS = {"search_mix": search_mix, "ingest_mixed": ingest_mixed}
