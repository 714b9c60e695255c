"""Structured Streaming ingest: web_pages files -> incremental index.

The reference has no streaming at all (ingest is a synchronous HTTP
bulk loop, reference pkg/server/server.go:253-364). Here new web_pages
parquet files landing in a directory are discovered by a file stream
and folded into the inverted index one micro-batch at a time:

    readStream(web_pages) -> foreachBatch:
        extract text (Arrow UDF) -> build_postings(batch_id=N)
        + a per-batch checkpoint record (lineage + metrics)

A stream may append to a batch build, a compaction or an earlier
stream: all share one layout and one manifest (see
``index/builder.py``). A micro-batch writes its partitions into the
committed generation (``gen-0`` for a new index); ``fold_corpus_stats``
then commits the new corpus stats and the term_dict rebuild the dict's
n_docs, each a new manifest version that drops readers' cached handles.
An index written before the manifest layout raises ``ValueError``:
rebuild it.

Exactly-once, by construction not just by checkpoint: every table is
written under a ``batch_id=N`` partition with DYNAMIC partition
overwrite, so a batch replayed after a crash (data written, commit
record not yet) REPLACES its own partitions instead of appending
duplicates — df/tf/N can never double-count. The per-batch
`_stream_batches/` records make re-runs observable and let the handler
skip fully-committed batches without touching Spark.

Stats are incremental in BOTH dimensions: build_postings(batch_id=N)
writes the batch's term-df DELTAS (a groupBy over only that batch's
postings; readers sum deltas per query term) AND a one-row
(n_docs, total_tokens) corpus delta; `fold_corpus_stats` then sums the
per-batch delta rows — O(#batches) — so no micro-batch ever
re-aggregates doc_stats (O(total docs)) or the postings table
(O(index size)), the two streaming scale-killers at 10^12 docs. The
sorted term_dict is also rebuilt per batch (O(distinct terms)), so
prefix queries partition-prune on streaming indexes exactly like on
finalized ones.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from gopensearch_spark.index.builder import (
    build_postings,
    compact_streaming_index,
    fold_corpus_stats,
    read_corpus_stats,
    rebuild_term_dict,
)

WEB_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _batch_ckpt(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_stream_batches", f"batch-{batch_id:08d}.json")


def _make_batch_handler(
    index_dir: str,
    term_buckets: int,
    with_positions: bool,
    compact_every: int | None = None,
):
    from gopensearch_spark.webtext import prepare_corpus

    def handle(batch_df, batch_id: int) -> None:
        if os.path.exists(_batch_ckpt(index_dir, batch_id)):
            return  # replayed batch after restart: already committed
        t0 = time.time()
        corpus = prepare_corpus(batch_df)
        build_postings(
            corpus,
            index_dir,
            term_buckets=term_buckets,
            with_positions=with_positions,
            batch_id=batch_id,  # idempotent per-batch partitions + df deltas
        )
        # O(#batches) stats fold — sums the one-row-per-batch deltas
        # build_postings just wrote; nothing here scans doc_stats or
        # postings of OTHER batches (asserted by
        # tests/test_streaming.py::test_batch_stats_never_rescan_older_batches)
        stats = fold_corpus_stats(
            batch_df.sparkSession, index_dir, term_buckets=term_buckets,
            with_positions=with_positions,
        )
        # incremental term_dict (O(distinct terms)): prefix queries
        # partition-prune on streaming indexes too
        rebuild_term_dict(batch_df.sparkSession, index_dir, n_docs=stats["n_docs"])
        os.makedirs(os.path.dirname(_batch_ckpt(index_dir, batch_id)), exist_ok=True)
        rec = {
            "batch_id": batch_id,
            "status": "committed",
            "n_docs_total": stats["n_docs"],
            "total_tokens": stats["total_tokens"],
            "elapsed_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = _batch_ckpt(index_dir, batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, _batch_ckpt(index_dir, batch_id))
        if compact_every and (batch_id + 1) % compact_every == 0:
            # amortized in-stream compaction: merge the accumulated
            # per-batch runs back to one sorted run per term
            # (repartition-by-term + sort) so query-side
            # run counts and df-delta rows stay bounded. Runs AFTER the
            # batch's commit record: a crash mid-compaction replays
            # nothing (the batch is committed; the old index dir is
            # only swapped once the compacted one is complete).
            compact_streaming_index(batch_df.sparkSession, index_dir)

    return handle


def _index_layout(
    index_dir: str, term_buckets: int | None, with_positions: bool | None
) -> tuple[int, bool]:
    """(term_buckets, with_positions) of a stream into ``index_dir``:
    ``None`` takes the existing index's value (16 and False when there is
    none). A conflicting value raises, since term lookups hash into the
    one bucket count the index records."""
    try:
        stats = read_corpus_stats(index_dir)
    except FileNotFoundError:
        return term_buckets or 16, bool(with_positions)
    have = (int(stats["term_buckets"]), bool(stats.get("with_positions")))
    for name, want, got in zip(("term_buckets", "with_positions"),
                               (term_buckets, with_positions), have):
        if want is not None and want != got:
            raise ValueError(
                f"{name}={want!r} conflicts with the index at {index_dir!r} ({got!r})")
    return have


def start_streaming_index(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    checkpoint_dir: str,
    term_buckets: int | None = None,
    with_positions: bool | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Start (and return) the streaming query maintaining ``index_dir``.

    ``term_buckets`` and ``with_positions`` default to the existing
    index's (else 16 and False); a conflicting value raises
    ``ValueError`` before anything is written.

    ``compact_every=N`` opts into amortized in-stream compaction: after
    every N-th committed batch the accumulated per-batch runs merge into
    one consolidated run (``batch_id=-1``) via
    ``builder.compact_streaming_index`` — bounding per-term run counts
    and stat-delta rows on long-lived streams."""
    term_buckets, with_positions = _index_layout(index_dir, term_buckets, with_positions)
    reader = spark.readStream.schema(WEB_PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    writer = (
        stream.writeStream.foreachBatch(
            _make_batch_handler(index_dir, term_buckets, with_positions,
                                compact_every=compact_every)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def index_stream_available_now(spark: SparkSession, input_path: str,
                               index_dir: str, checkpoint_dir: str, **kw) -> dict:
    """Drain everything currently in ``input_path`` into the index and
    return the final corpus stats. Re-running after new files landed
    indexes only the new files (streaming checkpoint + batch records)."""
    q = start_streaming_index(spark, input_path, index_dir, checkpoint_dir,
                              available_now=True, **kw)
    q.awaitTermination()
    return read_corpus_stats(index_dir)
