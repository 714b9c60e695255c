"""BM25 top-k over flat postings — pure DataFrame ops, zero Python in the hot path.

Reproduces SQLite FTS5's bm25() exactly (the ranking backend the
reference's `match` TODO points at, reference pkg/server/sql.go:126-141
and db.go:49). FTS5's formulation (fts5_aux.c, public SQLite source):

    idf(t)   = ln((N - df + 0.5) / (df + 0.5));  if idf <= 0: idf = 1e-6
    w(t, d)  = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d) = -sum_t idf(t) * w(t, d)            (more negative = better)

with k1=1.2, b=0.75, dl = token count of the doc. We return positive
scores (descending = better); the oracle comparison negates.

Plan shape (verified via .explain in tests):
  parquet scan of postings pruned to the query terms' term_bucket
  partitions with `term IN (...)` pushed to the scan
  -> broadcast hash join against the (tiny) filtered term_stats
  -> whole-stage-codegen'd score expression
  -> partial+final hash aggregate on doc_id (two or more present terms)
  -> TakeOrderedAndProject(k)
No pandas UDF, no driver-side data. A multi-term query has one shuffle
(the doc_id agg) whose input is only the query terms' postings; a query
with one present term has none, because its postings already hold one
row per doc.

A term repeated in the query contributes once per occurrence (its idf
is weighted by the count), as FTS5 and Lucene's per-token clauses score
it; AND still requires each distinct term once.

This relation, ordered and limited (``bm25_match``), is the one BM25
top-k engine: every ``match`` top-k runs as JVM-only work, with no
Python worker.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    """FTS5's idf with its 1e-6 floor."""
    x = math.log((n_docs - df + 0.5) / (df + 0.5))
    return x if x > 0.0 else 1e-6


def tf_norm(tf, dl, avgdl):
    """FTS5's per-posting weight ``w(tf, dl)``, the one BM25 tf formula
    of the engine. Works on floats (``explain``) and on double Columns
    (the scoring plans) alike."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def bm25_score_expr(avg_doc_len: float, idf_col: Column = None) -> Column:
    """Per-posting BM25 contribution as a codegen-able Column expression."""
    w = tf_norm(F.col("tf").cast("double"), F.col("doc_len").cast("double"), avg_doc_len)
    return (idf_col if idf_col is not None else F.col("idf")) * w


def term_buckets_for(spark: SparkSession, terms: list[str], n_buckets: int) -> dict[str, int]:
    """term -> on-disk partition bucket.

    Driver-side pure-Python XXH64 identical to the builder's JVM
    `pmod(xxhash64(term), B)` (parity pinned in tests) — launching a
    Spark job just to hash a handful of terms cost ~0.5s per query."""
    from gopensearch_spark.xxh64 import term_bucket

    return {t: term_bucket(t, n_buckets) for t in terms}


def bm25_scores(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    mode: str = "and",
    min_match: int | None = None,
) -> DataFrame:
    """Unlimited (doc_id, score) for a match query — the scoring relation
    the Engine joins against filters before its own top-k.

    ``min_match``: keep only docs matching at least that many distinct
    query terms (the Lucene minimum-should-match floor; `more_like_this`
    rides this). Ignored under mode='and' (which already requires all).

    idfs resolve DRIVER-SIDE through the memoized term_dfs lookup (score
    identity with FTS5 is pinned in the rank-identity suites), riding the postings scan as a literal term->idf map: no
    per-query term_stats scan, no broadcast build job.

    With one present term each posting is already one doc's score, so
    the relation has no doc_id aggregate and no Exchange. That plan, the
    AND count and the positional kernel all rely on (term, doc_id) being
    unique among postings. A doc re-ingested by a stream breaks this
    today: both versions' postings stay in the index, so the doc scores
    twice, and a one-term query returns it twice and counts it twice in
    an exact total."""
    from gopensearch_spark.analysis import normalize_query_terms
    from gopensearch_spark.search.readers import corpus_stats, index_table, term_dfs

    counts = Counter(normalize_query_terms(query))
    terms = sorted(counts)
    if not terms:
        raise ValueError("empty query after tokenization")
    stats = corpus_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]
    all_dfs = term_dfs(spark, index_dir, terms)
    idfs = {t: counts[t] * idf(n_docs, d) for t, d in all_dfs.items() if d > 0}
    if (
        not idfs
        or (mode == "and" and len(idfs) < len(terms))
        or (mode != "and" and (min_match or 0) > len(idfs))
    ):
        # absent term: AND can never satisfy all terms; OR over only
        # absent terms, or over fewer present terms than min_match,
        # matches nothing
        return spark.createDataFrame([], "doc_id long, score double")
    present = sorted(idfs)
    buckets = sorted(set(
        term_buckets_for(spark, present, stats["term_buckets"]).values()
    ))
    post = index_table(spark, index_dir, "postings").where(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
    )
    kv = []
    for t in present:
        kv += [F.lit(t), F.lit(float(idfs[t]))]
    idf_col = F.create_map(*kv)[F.col("term")]
    if len(present) == 1:
        return post.select("doc_id", bm25_score_expr(avgdl, idf_col).alias("score"))
    scored = post.withColumn("contrib", bm25_score_expr(avgdl, idf_col))
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.count("*").alias("n_terms")
    )
    if mode == "and":
        agg = agg.where(F.col("n_terms") == len(terms))
    elif min_match is not None and min_match > 0:
        agg = agg.where(F.col("n_terms") >= min_match)
    return agg.select("doc_id", "score")


def bm25_match(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    mode: str = "and",
) -> DataFrame:
    """Top-k BM25 `match` over the flat postings index.

    ``mode='and'`` = FTS5 ``a b`` implicit-AND (doc must contain every
    term); ``mode='or'`` = ``a OR b``. Returns (doc_id, score) ordered by
    score desc, doc_id asc (FTS5 tie order = rowid).
    """
    return top_k(bm25_scores(spark, index_dir, query, mode=mode), k)


def top_k(scores: DataFrame, k: int) -> DataFrame:
    """The best ``k`` rows of a (doc_id, score) relation, in FTS5 order."""
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
