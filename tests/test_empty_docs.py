"""Zero-token documents: FTS5 counts EVERY row in N and avgdl (verified
against SQLite directly below), so an empty/whitespace doc must appear in
doc_stats and shift BM25 scores exactly like it does in FTS5 — at build
time, across compaction of a sliced build, and across compaction of a
streaming index.

Regression for the round-3 advisory: compaction rebuilt doc_stats from
the postings table, silently dropping zero-token docs and changing every
score across the swap.
"""

import math

import pytest

from gopensearch_spark.fts5_oracle import Fts5Oracle
from gopensearch_spark.index import (
    build_index,
    build_postings,
    compact_streaming_index,
    fold_corpus_stats,
    read_corpus_stats,
    rebuild_term_dict,
)
from gopensearch_spark.search import wand_match

DOCS = [
    (1, "spark join data merge"),
    (2, "spark data"),
    (3, ""),              # zero tokens
    (4, "   \t  "),       # whitespace only -> zero tokens
    (5, "join merge sort"),
    (6, "data data spark window"),
]


@pytest.fixture(scope="module")
def oracle():
    o = Fts5Oracle()
    o.load(DOCS)
    yield o
    o.close()


def _ours(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _assert_identical(ours, ref):
    assert len(ours) == len(ref)
    for (d1, s1), (d2, s2) in zip(ours, ref):
        assert d1 == d2, (ours, ref)
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (d1, s1, s2)


def test_build_counts_empty_docs_like_fts5(spark, tmp_path, oracle):
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    stats = build_index(spark, docs, out, term_buckets=4)
    assert stats["n_docs"] == 6  # empty docs counted, exactly like FTS5 nRow
    assert math.isclose(stats["avg_doc_len"], 13 / 6)
    for terms, mode in [(["spark"], "or"), (["spark", "data"], "and"),
                        (["join", "sort", "window"], "or")]:
        _assert_identical(
            _ours(wand_match(spark, out, terms, k=10, mode=mode)),
            oracle.match(terms, k=10, mode=mode),
        )


def test_batch_compaction_preserves_empty_docs(spark, tmp_path, oracle):
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    s0 = build_index(spark, docs, out, slices=2, term_buckets=4)
    s1 = compact_streaming_index(spark, out)
    assert (s1["n_docs"], s1["total_tokens"]) == (s0["n_docs"], s0["total_tokens"])
    _assert_identical(
        _ours(wand_match(spark, out, ["spark"], k=10, mode="or")),
        oracle.match(["spark"], k=10, mode="or"),
    )


def test_streaming_compaction_preserves_empty_docs(spark, tmp_path, oracle):
    out = str(tmp_path / "sidx")
    half = [DOCS[:3], DOCS[3:]]
    for b, chunk in enumerate(half):
        df = spark.createDataFrame(chunk, "doc_id long, text string")
        build_postings(df, out, term_buckets=4, batch_id=b)
        stats = fold_corpus_stats(spark, out, term_buckets=4)
        rebuild_term_dict(spark, out, n_docs=stats["n_docs"])
    assert stats["n_docs"] == 6
    before = _ours(wand_match(spark, out, ["spark"], k=10, mode="or"))
    s1 = compact_streaming_index(spark, out)
    assert (s1["n_docs"], s1["total_tokens"]) == (6, 13)
    after = _ours(wand_match(spark, out, ["spark"], k=10, mode="or"))
    _assert_identical(after, before)
    _assert_identical(after, oracle.match(["spark"], k=10, mode="or"))


def test_fold_corpus_stats_empty_index(spark, tmp_path):
    """No batches at all / an all-empty batch: fold writes honest zeros
    instead of crashing on int(None) or dividing by zero."""
    out = str(tmp_path / "empty_idx")
    stats = fold_corpus_stats(spark, out, term_buckets=4)
    assert stats["n_docs"] == 0 and stats["avg_doc_len"] == 0.0
    # a batch with zero rows writes no partitions; fold still works
    build_postings(
        spark.createDataFrame([], "doc_id long, text string"),
        out, term_buckets=4, batch_id=0,
    )
    stats = fold_corpus_stats(spark, out, term_buckets=4)
    assert stats["n_docs"] == 0 and stats["total_tokens"] == 0
