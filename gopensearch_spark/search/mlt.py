"""ES `more_like_this`: select the like-text's most significant terms
(tf x idf against the index's own term stats) and run them as an OR
match with a minimum-should-match floor — Lucene's MoreLikeThis shape
over the flat BM25 relation.

Reference parity note: the Go reference has no MLT (its `match` is a
TODO, reference pkg/server/sql.go:126-141); this follows the ES/Lucene
MoreLikeThis defaults (max_query_terms=25, min_term_freq=2,
min_doc_freq=5, minimum_should_match="30%") with this engine's
FTS5-pinned BM25 idf as the significance weight.

Scale: term selection is driver-side over the LIKE text only — bounded
by the like text's vocabulary, never the corpus — plus the memoized
``readers.term_dfs`` lookup (one partition-pruned IN-list job for terms
not cached yet, none on a warmed index).
Execution is the ordinary pruned-postings OR relation with a min-match
filter on the per-doc matched-term count; nothing new shuffles.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from gopensearch_spark.search.bm25 import bm25_scores, idf


def select_mlt_terms(
    spark: SparkSession,
    index_dir: str,
    like_texts: list[str],
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    max_doc_freq: int = 0,
) -> list[str]:
    """The ES MLT term-selection contract: tokenize the like text(s)
    with the index analyzer, keep terms with like-tf >= min_term_freq
    and index df within [min_doc_freq, max_doc_freq or inf], rank by
    tf x idf (ties by term asc), take the top max_query_terms."""
    from gopensearch_spark.analysis import term_freqs
    from gopensearch_spark.search.readers import corpus_stats, term_dfs

    tf: Counter = Counter()
    for t in like_texts:
        tf.update(term_freqs(t))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    n_docs = corpus_stats(index_dir)["n_docs"]
    dfs = term_dfs(spark, index_dir, cand)
    scored: list[tuple[float, str]] = []
    for t in cand:
        df_ = dfs[t]
        if df_ < min_doc_freq or (max_doc_freq and df_ > max_doc_freq):
            continue
        scored.append((tf[t] * idf(n_docs, df_), t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:max_query_terms]]


def mlt_scores(
    spark: SparkSession,
    index_dir: str,
    like_texts: list[str],
    *,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    max_doc_freq: int = 0,
    minimum_should_match: int | str = "30%",
) -> DataFrame:
    """Unordered (doc_id, score) MLT relation: OR-BM25 over the selected
    terms, docs kept when they match >= minimum_should_match of them."""
    from gopensearch_spark.dsl.compiler import resolve_min_should

    terms = select_mlt_terms(
        spark, index_dir, like_texts,
        max_query_terms=max_query_terms, min_term_freq=min_term_freq,
        min_doc_freq=min_doc_freq, max_doc_freq=max_doc_freq,
    )
    if not terms:
        raise ValueError(
            "more_like_this selected no terms "
            "(check min_term_freq / min_doc_freq against the like text)")
    m = resolve_min_should(minimum_should_match, len(terms))
    return bm25_scores(spark, index_dir, terms, mode="or", min_match=m)
