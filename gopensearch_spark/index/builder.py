"""Inverted-index builder: tokenize -> postings -> term/doc/corpus stats.

Reimplements from scratch what the reference outsources to SQLite FTS5
(virtual-table creation at reference pkg/server/db.go:46-54; tokenize +
posting-list maintenance happen inside SQLite on every INSERT,
db.go:16-17). Spark-first design:

- **tokenize**: one Arrow-batched `mapInPandas` pass emits flattened
  (term, doc_id, tf[, positions]) rows directly. Computing tf inside the
  kernel (instead of explode + groupBy) removes the (term, doc_id)
  pre-aggregation shuffle entirely — partial counts never leave the
  input partition — and a single Python crossing per partition avoids
  the GC-heavy map-column explode (measured 8x build throughput vs the
  pandas-UDF + explode formulation).
- **flat postings** (``postings/``): `(term, doc_id, tf, doc_len)` rows,
  written partitioned by ``batch_id`` and then by ``term_bucket =
  pmod(xxhash64(term), B)``, and sorted by (term, doc_id) within files.
  doc_len is denormalized into the row so BM25 scoring needs NO join
  against doc_stats at query time. Queries prune to the handful of
  term_bucket partitions their terms hash to — at 10^12 docs this is the
  difference between scanning the whole index and scanning ~q/B of it.
- **one layout**: ``postings``, ``doc_stats`` and ``term_stats`` are
  partitioned by ``batch_id``, with one ``batch_stats`` row per batch.
  A build or compaction writes the run ``CONSOLIDATED_BATCH_ID``, each
  streaming micro-batch its own; readers sum df rows by term.
- **one version**: ``<dir>/_current`` is the index's manifest and its
  only commit record (``read_manifest``). Tables live in ``<dir>/gen-N``
  from ``gen-0`` on, never at the root. Builds, streaming micro-batches,
  compactions, ``fold_corpus_stats`` and ``rebuild_term_dict`` all
  commit through ``_commit``, and readers key their caches on the
  version id it writes.
- **resumability**: `build_index` processes the corpus in ``slices``
  (doc_id hash classes); each slice commits its output and a checkpoint
  record with lineage + doc/term/byte metrics before the next starts.
  A re-run skips committed slices (tests/test_webtext.py:92-95;
  streaming-resume analogue in tests/test_streaming.py).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gopensearch_spark import codecs

DEFAULT_TERM_BUCKETS = 64   # term_bucket partitions on disk


MANIFEST = "_current"  # the index's manifest: its one commit record
CONSOLIDATED_BATCH_ID = -1  # batch_id of the run a build or compaction writes
_STATS_KEYS = ("n_docs", "avg_doc_len", "total_tokens", "term_buckets", "with_positions")


def read_manifest(index_dir: str) -> dict:
    """The committed manifest: ``generation`` (tables live in
    ``<dir>/gen-N``), a ``version`` id unique per commit, the corpus
    stats (``_STATS_KEYS``) and ``term_dict_n_docs``, the n_docs the
    term_dict was built against. A directory with other entries but no
    manifest holds an index written before it: ``ValueError``."""
    try:
        with open(os.path.join(index_dir, MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        if os.path.isdir(index_dir) and any(
                not n.startswith(("_", ".", "gen-")) for n in os.listdir(index_dir)):
            raise ValueError(
                f"{index_dir!r} holds an index written before the manifest layout "
                f"(tables but no {MANIFEST} manifest); rebuild it") from None
        raise


def resolve_index_dir(index_dir: str) -> str:
    """Data directory of the committed generation, ``<dir>/gen-N``."""
    return os.path.join(index_dir, f"gen-{read_manifest(index_dir)['generation']}")


def _live_dir(index_dir: str) -> str:
    """The generation a writer adds to: the committed one, or ``gen-0``
    for an index with no commit yet."""
    try:
        return resolve_index_dir(index_dir)
    except FileNotFoundError:
        return os.path.join(index_dir, "gen-0")


def _commit(index_dir: str, **fields) -> dict:
    """THE commit, the only writer of the manifest: ``fields`` replace
    those of the committed manifest (generation 0 when there is none)
    under a fresh version id, swapped in with one atomic ``os.replace``,
    never a directory rename. Readers key every cache on the version, so
    the next query, from any process, sees the commit."""
    try:
        manifest = read_manifest(index_dir)
    except FileNotFoundError:
        manifest = {"generation": 0}
    manifest.update(fields, version=uuid.uuid4().hex,
                    committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(index_dir, MANIFEST))
    return manifest


EST_POSTINGS_PER_DOC = 120          # distinct terms per ~400-token web page
TARGET_POSTINGS_PER_BUCKET = 2_000_000  # ~100-250 MB sorted parquet w/ positions
MIN_POSTINGS_PER_BUCKET = 25_000    # below this, per-file overhead > sort benefit


def recommended_term_buckets(n_docs: int) -> int:
    """Bucket-count sizing rule: ``clamp(est_postings / target, adaptive
    floor, 64k)``.

    term_bucket is the unit of the build's big shuffle-and-sort (one
    sorted parquet run per bucket) and of query-side partition pruning.
    A FIXED bucket count stops scaling the moment the corpus outgrows
    it: per-bucket sort partitions exceed each task's execution-memory
    share (heap / concurrent tasks), every sort spills, and — because
    the per-task share SHRINKS as cores grow — the spill tax lands
    hardest on the biggest cluster (measured here: 2->8 core efficiency
    0.81 at 800k docs vs 0.57 at 6M with 32 fixed buckets). Sizing by
    estimated posting rows keeps the sorted unit ~constant
    (``TARGET_POSTINGS_PER_BUCKET``) at any corpus size; the estimate
    errs toward MORE buckets (smaller sorts, finer pruning), which is
    the safe side.

    The floor is adaptive for the opposite regime: a hard 64-bucket
    floor on a 5k-doc corpus means 64 partition dirs × every bucketed
    table's tiny files, and per-file open/commit overhead
    dominates the build (measured here: 13.3s vs 5.9s on identical 5k-doc
    input at 64 vs 32 buckets). Buckets therefore never shrink below
    ``est_postings / MIN_POSTINGS_PER_BUCKET``-sized units either —
    small corpora get few fat-enough buckets, large corpora keep the
    ``DEFAULT_TERM_BUCKETS`` parallelism floor.
    ``build_index(term_buckets=None)`` applies this rule from a corpus
    count."""
    import math

    est_postings = max(int(n_docs), 1) * EST_POSTINGS_PER_DOC
    floor = min(
        DEFAULT_TERM_BUCKETS,
        max(1, math.ceil(est_postings / MIN_POSTINGS_PER_BUCKET)),
    )
    return min(
        max(floor, math.ceil(est_postings / TARGET_POSTINGS_PER_BUCKET)),
        65536,
    )


def _flat_postings(
    docs: DataFrame, text_col: str, id_col: str, with_positions: bool = False
) -> DataFrame:
    """(doc_id, doc_len, term, tf[, positions]) — computed partition-locally.

    One `mapInPandas` pass does tokenize -> per-doc tf (and, with
    positions, delta+varint-encoded position lists, the FTS5
    detail=full analogue) -> flattened posting rows. A single
    Arrow crossing per input partition; no JVM map explode, no second
    UDF round-trip — measured ~3x less GC-churny than the
    map-column + explode + encode-UDF formulation it replaces.

    EVERY document additionally emits one per-doc SENTINEL row with
    ``term = NULL, tf = 0`` and its true ``doc_len``. Sentinels make the
    flat relation self-contained: ``doc_stats`` is a NULL-term filter
    scan (no dropDuplicates shuffle over per-(doc, term) rows), and a
    zero-token document (empty/whitespace text) — which has no postings
    but IS a document, FTS5 counts every row in N and avgdl (verified
    against SQLite directly; see tests) — needs no special casing: its
    sentinel is its only row. Postings/term-stat consumers filter
    ``term IS NOT NULL``; query-side term-equality/prefix predicates
    never match NULL, so sentinels are invisible to search.

    The kernel is batch-vectorized: per doc only the C-speed pieces run
    (ASCII/NFKD fold + one regex findall); everything after — term
    dictionary encoding, per-(doc, term) tf, sorted position lists — is
    one pandas.factorize + numpy lexsort + run-length pass over the
    batch's FLAT token array. The previous per-doc Python dict loop
    (setdefault/append per token) was the build's hottest path after the
    ASCII fold fast path; tokenizer parity is unchanged
    (tests/test_tokenizer.py pins it against fts5vocab).
    """
    from gopensearch_spark.analysis import tokenize

    schema = "doc_id long, doc_len int, term string, tf int" + (
        ", positions binary" if with_positions else ""
    )

    def flatten(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_arr = pdf[id_col].to_numpy()
            tok_lists = [
                tokenize(t) if isinstance(t, str) and t else [] for t in pdf[text_col]
            ]
            lens = np.fromiter(
                (len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                yield _sentinel_frame(ids_arr, lens, with_positions)
                continue
            flat = np.empty(total, dtype=object)
            off = 0
            for toks in tok_lists:
                flat[off : off + len(toks)] = toks
                off += len(toks)
            codes, uniques = pd.factorize(flat, sort=False)
            doc_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
            # group to (doc, term) with ONE stable argsort over a fused
            # (doc, code) key — measured ~5x faster than np.lexsort's two
            # passes; stability keeps positions ascending within each
            # group (FTS5 stores them sorted). Fused key fits int64 for
            # any realistic Arrow batch; lexsort fallback guards overflow.
            n_uniq = len(uniques)
            if len(tok_lists) * n_uniq < (1 << 62):
                key = doc_idx * n_uniq + codes
                order = np.argsort(key, kind="stable")
                ks = key[order]
                change = np.flatnonzero(ks[1:] != ks[:-1]) + 1
                d, c, p = doc_idx[order], codes[order], pos[order]
            else:
                order = np.lexsort((codes, doc_idx))
                d, c, p = doc_idx[order], codes[order], pos[order]
                change = np.flatnonzero((d[1:] != d[:-1]) | (c[1:] != c[:-1])) + 1
            g = np.concatenate(([0], change))
            tf = np.diff(np.concatenate((g, [total])))
            uniq_terms = np.asarray(uniques, dtype=object)
            out = {
                "doc_id": pd.Series(ids_arr[d[g]], dtype="int64"),
                "doc_len": pd.Series(lens[d[g]], dtype="int32"),
                "term": pd.Series(uniq_terms[c[g]], dtype="object"),
                "tf": pd.Series(tf, dtype="int32"),
            }
            if with_positions:
                out["positions"] = pd.Series(
                    codecs.delta_encode_chunks(p.astype(np.uint64), tf),
                    dtype="object",
                )
            frame = pd.DataFrame(out)
            # one per-doc sentinel for EVERY doc (incl. zero-token docs)
            yield pd.concat(
                [frame, _sentinel_frame(ids_arr, lens, with_positions)],
                ignore_index=True,
            )

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(flatten, schema)


def _sentinel_frame(
    ids: np.ndarray, lens: np.ndarray, with_positions: bool
) -> pd.DataFrame:
    """Per-doc stats sentinel rows (term NULL, tf 0, true doc_len)."""
    out = {
        "doc_id": pd.Series(np.asarray(ids, dtype=np.int64), dtype="int64"),
        "doc_len": pd.Series(np.asarray(lens, dtype=np.int32), dtype="int32"),
        "term": pd.Series([None] * len(ids), dtype="object"),
        "tf": pd.Series(np.zeros(len(ids)), dtype="int32"),
    }
    if with_positions:
        out["positions"] = pd.Series([b""] * len(ids), dtype="object")
    return pd.DataFrame(out)


def build_postings(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_buckets: int = DEFAULT_TERM_BUCKETS,
    mode: str = "overwrite",
    with_positions: bool = False,
    batch_id: int | None = None,
) -> None:
    """One build pass over ``docs``.

    BATCH (``batch_id=None``): writes ONLY ``postings/`` (per-doc
    sentinel rows included) under ``batch_id = CONSOLIDATED_BATCH_ID``
    in a single persist-free lineage, with write ``mode``; the other
    tables derive from it with column-pruned re-reads (``build_index``).

    STREAMING (``batch_id=N``): one persisted pass writes every
    per-batch table (postings, doc_stats, term-df deltas, batch_stats)
    under ``batch_id=N`` with dynamic partition-overwrite, so a replayed
    micro-batch (crash after the data write, before the commit record)
    REPLACES its own partitions instead of appending duplicate postings.
    Its term-df deltas in ``term_stats/batch_id=N/`` come from a
    batch-scoped groupBy, never a full-index re-aggregation; readers SUM
    df across batch runs (a few rows per query term).
    """
    # Guard against under-partitioned input (e.g. one small parquet file
    # = ONE scan partition): tokenization is the dominant cost and runs
    # in the scan stage, so low input parallelism serializes the whole
    # build no matter how many cores exist. A well-partitioned Iceberg
    # table at real scale passes through untouched (a blind repartition
    # of 10^12 rows would be a catastrophic extra shuffle).
    from gopensearch_spark.util import ensure_parallelism

    docs = ensure_parallelism(docs)
    out_dir = _live_dir(out_dir)
    # per-doc sentinels (term NULL) spread by doc hash so they never
    # concentrate in one repartition key / one output dir
    bucket_expr = (
        F.when(
            F.col("term").isNull(),
            F.pmod(F.xxhash64("doc_id"), F.lit(term_buckets)),
        )
        .otherwise(F.pmod(F.xxhash64("term"), F.lit(term_buckets)))
        .cast("int")
    )
    flat = _flat_postings(
        docs, text_col, id_col, with_positions=with_positions
    ).withColumn("term_bucket", bucket_expr)

    if batch_id is None:
        # BATCH path: SINGLE-PASS. One lineage — tokenize -> shuffle by
        # term_bucket -> sort (term, doc_id) -> parquet — with no
        # persist/cache: at 10^8+ docs a persisted flat relation (posting
        # rows + position bytes) spills far past executor storage memory,
        # and that disk traffic is exactly what stops the build scaling
        # with cores (measured: 2->8 core efficiency fell 0.81 -> 0.57
        # between 800k and 6M docs with the old persist+re-consume
        # design). doc_stats and term_stats both derive from the
        # WRITTEN postings parquet — column-pruned re-reads (never the
        # position bytes) instead of cache hits. Sentinel rows ride
        # along in the postings table; NULLS-FIRST sorting clusters them
        # at each file's head so the doc_stats filter scan
        # row-group-skips the rest.
        (
            flat.withColumn("batch_id", F.lit(CONSOLIDATED_BATCH_ID))
            .repartition(term_buckets, "term_bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.mode(mode)
            .partitionBy("batch_id", "term_bucket")
            .parquet(os.path.join(out_dir, "postings"))
        )
        return

    # STREAMING micro-batch path: batches are small (bounded by the
    # trigger), so one persist + multi-consumer fan-out is cheap and
    # keeps every per-batch table (postings, doc_stats, term-df deltas,
    # batch_stats) in a single pass over the batch.
    flat = flat.withColumn("batch_id", F.lit(int(batch_id)))
    mode = "overwrite"  # dynamic: replaces only this batch's partitions

    def writer(df):
        w = df.write.mode(mode)
        return w.option("partitionOverwriteMode", "dynamic")

    post_parts = ["batch_id", "term_bucket"]
    flat.persist()
    posts = flat.where(F.col("term").isNotNull())
    try:
        (
            writer(
                posts.repartition(term_buckets, "term_bucket")
                .sortWithinPartitions("term", "doc_id")
            )
            .partitionBy(*post_parts)
            .parquet(os.path.join(out_dir, "postings"))
        )
        # per-doc sentinel filter — one row per doc by construction, no
        # dropDuplicates shuffle over per-(doc, term) rows
        doc_stats = flat.where(F.col("term").isNull()).select(
            "doc_id", "doc_len", "batch_id"
        )
        writer(doc_stats).partitionBy("batch_id").parquet(
            os.path.join(out_dir, "doc_stats")
        )
        # batch-scoped term-df deltas (see docstring); clustered by the
        # partition column so each bucket dir gets ONE file per batch
        (
            writer(posts.groupBy("batch_id", "term_bucket", "term")
                   .agg(F.count("*").alias("df"))
                   .repartition(term_buckets, *post_parts))
            .partitionBy(*post_parts)
            .parquet(os.path.join(out_dir, "term_stats"))
        )
        # batch-scoped corpus-stat delta: ONE row (n_docs,
        # total_tokens) per batch, aggregated from the in-memory
        # persisted postings — never a scan of other batches.
        # fold_corpus_stats sums these rows (O(#batches), not
        # O(total docs)) to refresh N/avgdl per micro-batch; the
        # dynamic partition overwrite keeps replays idempotent.
        (
            writer(
                doc_stats.groupBy("batch_id").agg(
                    F.count("*").alias("n_docs"),
                    F.sum("doc_len").alias("total_tokens"),
                )
            )
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "batch_stats"))
        )
    finally:
        flat.unpersist()


def finalize_stats(
    spark: SparkSession,
    out_dir: str,
    term_buckets: int = DEFAULT_TERM_BUCKETS,
    with_positions: bool = False,
) -> dict:
    """Derive every other table of a built index from its written
    ``postings`` and ``doc_stats`` (``_derive``) and commit the result
    with its corpus stats, which it returns.

    Streaming ingest does NOT use this — build_postings(batch_id=N)
    writes batch-scoped term deltas and ``fold_corpus_stats`` folds
    O(#batches) delta rows, so micro-batch stats never rescan the index.
    """
    fields = _derive(spark, _live_dir(out_dir), term_buckets, with_positions)
    return _stats(_commit(out_dir, **fields))


def _derive(spark: SparkSession, gen_dir: str, term_buckets: int,
            with_positions: bool) -> dict:
    """Write term_stats (the only unavoidable full groupBy, map-side
    combined), batch_stats and the sorted term_dict of the generation
    ``gen_dir`` from its postings and doc_stats; return its manifest
    fields. A build commits them to its live generation, a compaction
    with the next generation."""
    parts = ["batch_id", "term_bucket"]
    (
        spark.read.parquet(os.path.join(gen_dir, "postings"))
        .where(F.col("term").isNotNull())
        .groupBy(*parts, "term")
        .agg(F.count("*").alias("df"))
        # one writer task per bucket dir: an unclustered partitioned
        # write commits tasks x buckets tiny files
        .repartition(term_buckets, "term_bucket")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(os.path.join(gen_dir, "term_stats"))
    )
    (
        spark.read.parquet(os.path.join(gen_dir, "doc_stats"))
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("total_tokens"))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(gen_dir, "batch_stats"))
    )
    fields = _fold(spark, gen_dir)
    _write_term_dict(spark, gen_dir)
    return {**fields, "term_buckets": term_buckets, "with_positions": with_positions,
            "term_dict_n_docs": fields["n_docs"]}


def rebuild_term_dict(spark: SparkSession, out_dir: str, n_docs: int) -> None:
    """Rebuild the live generation's term_dict and commit the corpus
    ``n_docs`` it was built against as the manifest's
    ``term_dict_n_docs``.

    readers.term_dict compares that with the manifest's ``n_docs`` and
    callers fall back to the full postings scan when postings are newer
    than the dict (a crash between the stats fold and this rebuild, or a
    raw build_postings append without finalize) — a stale dict must
    degrade to a slower plan, never silently drop matching terms."""
    _write_term_dict(spark, _live_dir(out_dir))
    _commit(out_dir, term_dict_n_docs=int(n_docs))


def _write_term_dict(spark: SparkSession, gen_dir: str) -> None:
    """(term, df) dictionary, RANGE-partitioned and sorted by term.

    The hash term_bucket layout cannot prune a PREFIX query; this small
    side table can (parquet min/max on sorted runs answers
    `term LIKE 'p%'` with file/row-group skipping), and the matching
    terms' bucket set then prunes the postings scan — see
    search/phrase.prefix_match. Size = distinct terms, O(GB) even at web
    scale. Cost = one groupBy over term_stats (df-delta rows, tiny next
    to postings), so streaming ingest rebuilds it EVERY micro-batch and
    prefix queries partition-prune on streaming indexes too."""
    (
        spark.read.parquet(os.path.join(gen_dir, "term_stats"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(gen_dir, "term_dict"))
    )


def fold_corpus_stats(
    spark: SparkSession,
    out_dir: str,
    term_buckets: int = DEFAULT_TERM_BUCKETS,
    with_positions: bool = False,
) -> dict:
    """The one corpus-stats refresh (``_fold`` over the live
    generation), committed with ``term_buckets`` and ``with_positions``;
    returns the stats."""
    fields = _fold(spark, _live_dir(out_dir))
    return _stats(_commit(out_dir, **fields, term_buckets=term_buckets,
                          with_positions=with_positions))


def _fold(spark: SparkSession, gen_dir: str) -> dict:
    """n_docs, avg_doc_len and total_tokens of the generation
    ``gen_dir``: the sum of the per-batch (n_docs, total_tokens) rows of
    ``batch_stats`` — one per batch run, written by
    build_postings(batch_id=N) or by ``_derive`` for the consolidated
    run — O(#batches) rows, NEVER a re-aggregation of doc_stats (O(total
    docs) per micro-batch, the scale-killer at 10^12 docs). Idempotent:
    a replayed batch REPLACED its batch_stats partition, so the fold can
    never double-count.

    Self-healing: a doc_stats batch partition with no batch_stats row
    (a crash between the two writes) would silently UNDERCOUNT the fold.
    Partition dirs are compared by listing (filesystem-cheap,
    O(#batches)) and any missing delta is backfilled from ONLY that
    batch's doc_stats partition. The listing goes through the Hadoop
    FileSystem API so it works on any scheme Spark can write to (local,
    HDFS, s3a://, gs://) — ``os.listdir`` would silently no-op on
    object-store URIs."""

    def _batch_ids(table: str) -> set[int]:
        names = _list_dir(spark, os.path.join(gen_dir, table))
        return {
            int(name.split("=", 1)[1])
            for name in names
            if name.startswith("batch_id=")
        }

    missing = _batch_ids("doc_stats") - _batch_ids("batch_stats")
    for b in sorted(missing):
        (
            spark.read.parquet(os.path.join(gen_dir, "doc_stats"))
            .where(F.col("batch_id") == b)
            .groupBy("batch_id")
            .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("total_tokens"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(gen_dir, "batch_stats"))
        )
    # empty index (no batch partition ever written — e.g. every batch
    # empty, or nothing ingested yet): honest zeros instead of failing
    # the parquet read / crashing on int(None) / dividing by 0
    if _batch_ids("batch_stats"):
        row = (
            spark.read.parquet(os.path.join(gen_dir, "batch_stats"))
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("total_tokens").alias("total_tokens"),
            )
            .collect()[0]
        )
        n_docs = int(row["n_docs"] or 0)
        total_tokens = int(row["total_tokens"] or 0)
    else:
        n_docs, total_tokens = 0, 0
    return {
        "n_docs": n_docs,
        "avg_doc_len": (total_tokens / n_docs) if n_docs else 0.0,
        "total_tokens": total_tokens,
    }


def _list_dir(spark: SparkSession, path: str) -> list[str]:
    """Child names of ``path`` via the Hadoop FileSystem API (scheme-
    aware: local paths, HDFS, s3a://, gs://); [] when absent. Falls back
    to os.listdir if the JVM gateway is unreachable (plain-Python use)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Exception:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)


def read_corpus_stats(out_dir: str) -> dict:
    """The committed corpus stats: the manifest's ``_STATS_KEYS``."""
    return _stats(read_manifest(out_dir))


def _stats(manifest: dict) -> dict:
    return {k: manifest[k] for k in _STATS_KEYS}


def _ckpt_path(out_dir: str, slice_id: int) -> str:
    return os.path.join(out_dir, "_checkpoints", f"slice-{slice_id:05d}.json")


def completed_slices(out_dir: str) -> set[int]:
    d = os.path.join(out_dir, "_checkpoints")
    if not os.path.isdir(d):
        return set()
    done = set()
    for name in os.listdir(d):
        if name.startswith("slice-") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            if rec.get("status") == "committed":
                done.add(rec["slice_id"])
    return done


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    slices: int = 1,
    term_buckets: int | None = None,
    num_segments: int | None = None,
    with_positions: bool = False,
    input_lineage: str = "",
) -> dict:
    """Full resumable build: slices -> postings -> derived tables + stats.

    Each slice is a doc_id hash class processed as its own distributed
    job and committed with a checkpoint record (lineage + metrics), so a
    crashed build resumes by skipping committed slices — the reference
    has no equivalent (its bulk ingest is a sequential HTTP loop,
    reference pkg/server/server.go:253-364). Per slice only the postings
    table is written (single-pass, persist-free); doc_stats is then its
    per-doc sentinel rows and ``finalize_stats`` derives the rest — the
    layout a compaction leaves, so a stream can append to it. Re-running
    a build that already finished returns the live corpus stats and
    writes nothing.

    ``term_buckets=None`` (the default) sizes the bucket count from the
    corpus via ``recommended_term_buckets`` (one count job): buckets
    bound the build's per-task sort, so they must GROW with the corpus
    or per-task state eventually outruns each core's memory share and
    the build stops scaling. Pass an explicit value to pin it.

    ``num_segments`` is accepted and ignored: the index has no segment
    axis any more, and existing callers still pass it.
    """
    done = completed_slices(out_dir)
    if done >= set(range(slices)) and os.path.exists(os.path.join(out_dir, MANIFEST)):
        # a re-run of a committed build: streams and compactions may have
        # changed the index since, and its postings no longer carry the
        # sentinels of every doc, so re-deriving would lose documents
        return read_corpus_stats(out_dir)
    n_docs_total = None
    if term_buckets is None:
        n_docs_total = docs.count()
        term_buckets = recommended_term_buckets(n_docs_total)
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    for s in range(slices):
        if s in done:
            continue
        t0 = time.time()
        part = docs if slices == 1 else docs.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(slices)) == s
        )
        # single-slice builds that already counted for sizing reuse that
        # count for the checkpoint record instead of a second full pass
        n_docs = n_docs_total if (slices == 1 and n_docs_total is not None) else part.count()
        build_postings(
            part,
            out_dir,
            text_col=text_col,
            id_col=id_col,
            term_buckets=term_buckets,
            mode="overwrite" if (s == 0 and not done) else "append",
            with_positions=with_positions,
        )
        rec = {
            "slice_id": s,
            "status": "committed",
            "n_docs": n_docs,
            "input": input_lineage,
            "id_col": id_col,
            "text_col": text_col,
            "slices": slices,
            "elapsed_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = _ckpt_path(out_dir, s) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, _ckpt_path(out_dir, s))
    # doc_stats = the per-doc sentinel rows (zero-token docs included)
    live = _live_dir(out_dir)
    (
        spark.read.parquet(os.path.join(live, "postings"))
        .where(F.col("term").isNull())
        .select("doc_id", "doc_len", "batch_id")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(live, "doc_stats"))
    )
    return finalize_stats(
        spark, out_dir, term_buckets=term_buckets, with_positions=with_positions,
    )


def compact_streaming_index(
    spark: SparkSession,
    index_dir: str,
) -> dict:
    """Compact an index in place — RENAME-FREE; the one compaction (also
    behind ``Engine.force_merge`` and ``jobs/compact_index_job.py``).

    Every build slice and micro-batch appends its own posting runs;
    after B of them a term's postings are spread over B sorted runs and
    df/stat lookups sum B delta rows. This merges everything back to one
    run per term (repartition-by-term + sort) under ``batch_id =
    CONSOLIDATED_BATCH_ID`` — the layout a batch build writes — so
    FUTURE micro-batches keep appending under their own ``batch_id=N``:

    - postings/doc_stats are rewritten and ``_derive`` writes the rest:
      batch_stats collapses to ONE consolidated row, so
      ``fold_corpus_stats`` stays O(#batches-since-compaction);
    - doc_stats is copied from the SOURCE doc_stats (zero-token docs
      stay in N/avgdl — FTS5 semantics);
    - ``_stream_batches`` commit records live at the index ROOT, outside
      any generation, so replayed batches still skip;
    - COMMIT = write the next generation dir ``<dir>/gen-{N+1}`` fully,
      then ``_commit`` the manifest naming it, with its stats. No
      directory rename anywhere — deployable on object stores (S3/GCS
      have no rename). A crash mid-build leaves the manifest (and every
      reader) on the committed generation; the half-built dir is removed
      and rebuilt by the next attempt. The previous generation is kept
      for in-flight readers; generations older than that are deleted.

    Called manually or via ``start_streaming_index(compact_every=N)``.
    """
    import shutil

    manifest = read_manifest(index_dir)
    gen = manifest["generation"]
    src, dst = (os.path.join(index_dir, f"gen-{g}") for g in (gen, gen + 1))
    term_buckets = manifest["term_buckets"]
    with_positions = bool(manifest["with_positions"])
    shutil.rmtree(dst, ignore_errors=True)  # junk from a crashed attempt

    cb = F.lit(int(CONSOLIDATED_BATCH_ID))
    # persist-free merge (same rationale as the batch build): the merged
    # postings are written once, then term_stats derives from the
    # WRITTEN parquet with a column-pruned re-read — a compaction input
    # is O(index), far past what a cached relation holds at scale.
    flat = (
        spark.read.parquet(os.path.join(src, "postings"))
        .where(F.col("term").isNotNull())  # a batch build's per-doc sentinels
        .drop("batch_id", "term_bucket")
        .withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int"))
        .withColumn("batch_id", cb)
    )
    (
        flat.repartition(term_buckets, "term_bucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("batch_id", "term_bucket")
        .parquet(os.path.join(dst, "postings"))
    )
    # doc_stats from the SOURCE doc_stats table, not from postings:
    # zero-token docs have no posting rows but still count in
    # N/avgdl (FTS5 semantics) — rebuilding from postings would drop
    # them and shift every BM25 score across the compaction.
    doc_stats = (
        spark.read.parquet(os.path.join(src, "doc_stats"))
        .drop("batch_id")
        .dropDuplicates(["doc_id"])
        .withColumn("batch_id", cb)
    )
    doc_stats.write.mode("overwrite").partitionBy("batch_id").parquet(
        os.path.join(dst, "doc_stats")
    )
    fields = _derive(spark, dst, term_buckets, with_positions)
    # THE commit; everything before it is invisible to readers,
    # everything after is cleanup
    stats = _stats(_commit(index_dir, generation=gen + 1, **fields))
    _cleanup_old_generations(index_dir, gen + 1)
    return stats


def _cleanup_old_generations(index_dir: str, committed_gen: int) -> None:
    """Keep the committed generation plus ONE predecessor (for in-flight
    readers); delete anything older."""
    import shutil

    for g in range(committed_gen - 1):
        shutil.rmtree(os.path.join(index_dir, f"gen-{g}"), ignore_errors=True)
