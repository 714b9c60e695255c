"""Structured Streaming ingest: web_pages files -> incremental index.

The reference has no streaming at all (ingest is a synchronous HTTP
bulk loop, reference pkg/server/server.go:253-364). Here new web_pages
parquet files landing in a directory are discovered by a file stream
and folded into the inverted index one micro-batch at a time:

    readStream(web_pages) -> foreachBatch:
        extract text (Arrow UDF) -> build_postings(mode="append")
        + a per-batch checkpoint record (lineage + metrics)

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
    fold_corpus_stats,
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
        from gopensearch_spark.search.readers import invalidate

        invalidate(index_dir)
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
            from gopensearch_spark.index.builder import compact_streaming_index

            compact_streaming_index(batch_df.sparkSession, index_dir)

    return handle


def start_streaming_index(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    checkpoint_dir: str,
    term_buckets: int = 16,
    with_positions: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Start (and return) the streaming query maintaining ``index_dir``.

    ``compact_every=N`` opts into amortized in-stream compaction: after
    every N-th committed batch the accumulated per-batch runs merge into
    one consolidated run (``batch_id=-1``) via
    ``builder.compact_streaming_index`` — bounding per-term run counts
    and stat-delta rows on long-lived streams."""
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
    from gopensearch_spark.index.builder import read_corpus_stats

    return read_corpus_stats(index_dir)
