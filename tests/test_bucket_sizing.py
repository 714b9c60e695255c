"""Corpus-sized term buckets + per-doc sentinel invariants.

The single-pass batch build (round 4) writes one NULL-term sentinel row
per document into the postings table and derives doc_stats/term_stats
from the written parquet; term_buckets auto-size with the
corpus so the per-bucket sort unit stays ~constant at any scale.
"""
import os

import pytest
from pyspark.sql import functions as F

from gopensearch_spark.index.builder import (
    DEFAULT_TERM_BUCKETS,
    EST_POSTINGS_PER_DOC,
    TARGET_POSTINGS_PER_BUCKET,
    recommended_term_buckets,
)


def test_recommended_term_buckets_rule():
    # adaptive floor: tiny corpora get few fat-enough buckets (per-file
    # overhead would dominate at the 64 floor), mid-size corpora rise to
    # the DEFAULT_TERM_BUCKETS parallelism floor
    from gopensearch_spark.index.builder import MIN_POSTINGS_PER_BUCKET

    assert recommended_term_buckets(0) == 1
    assert recommended_term_buckets(1000) == -(
        -1000 * EST_POSTINGS_PER_DOC // MIN_POSTINGS_PER_BUCKET
    )
    assert recommended_term_buckets(60_000) == DEFAULT_TERM_BUCKETS
    assert recommended_term_buckets(800_000) == DEFAULT_TERM_BUCKETS
    # grows linearly once past the floor
    n = 10_000_000
    expect = n * EST_POSTINGS_PER_DOC / TARGET_POSTINGS_PER_BUCKET
    got = recommended_term_buckets(n)
    assert expect <= got <= expect + 1
    # 2x corpus -> ~2x buckets (sort unit stays constant)
    assert abs(recommended_term_buckets(2 * n) - 2 * got) <= 2
    # hard cap
    assert recommended_term_buckets(10**13) == 65536


def test_per_doc_sentinels_and_derived_doc_stats(spark, tmp_path):
    from gopensearch_spark.index import build_index, resolve_index_dir

    rows = [(i, f"alpha beta w{i % 7}" if i % 5 else "") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    stats = build_index(spark, docs, idx, term_buckets=8)
    idx = resolve_index_dir(idx)  # the committed generation's tables

    post = spark.read.parquet(os.path.join(idx, "postings"))
    sent = post.where(F.col("term").isNull())
    # exactly one sentinel per doc, spread across bucket dirs
    assert sent.count() == 200
    assert sent.select("doc_id").distinct().count() == 200
    assert sent.select("term_bucket").distinct().count() > 1
    # sentinel doc_len is the TRUE token count (not 0 for non-empty docs)
    assert sent.where(F.col("doc_len") > 0).count() == 160
    assert sent.where(F.col("tf") != 0).count() == 0

    # doc_stats == the sentinel relation; zero-token docs included in N
    ds = spark.read.parquet(os.path.join(idx, "doc_stats"))
    assert ds.count() == 200
    assert stats["n_docs"] == 200
    assert ds.where(F.col("doc_len") == 0).count() == 40

    # term-level tables never contain the sentinels
    ts = spark.read.parquet(os.path.join(idx, "term_stats"))
    assert ts.where(F.col("term").isNull()).count() == 0


def test_auto_bucket_build_records_count(spark, tmp_path):
    from gopensearch_spark.index import build_index
    from gopensearch_spark.index.builder import read_corpus_stats, resolve_index_dir

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 13}") for i in range(300)], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, term_buckets=None)
    # tiny corpus -> the adaptive floor; recorded so query-side bucket
    # hashing (term_buckets_for) agrees with the layout
    expect = recommended_term_buckets(300)
    assert 1 <= expect < DEFAULT_TERM_BUCKETS
    assert read_corpus_stats(idx)["term_buckets"] == expect
    dirs = [
        d for d in os.listdir(os.path.join(resolve_index_dir(idx), "postings", "batch_id=-1"))
        if d.startswith("term_bucket=")
    ]
    assert 0 < len(dirs) <= expect
