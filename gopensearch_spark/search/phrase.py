"""Phrase, prefix, phrase-prefix and NEAR matching over the positional index.

FTS5 (the reference's delegated backend, reference pkg/server/db.go:49)
supports `"a b"` phrase queries and `ab*` prefix queries; both are
scored by bm25() as a SINGLE phrase unit: tf(doc) = number of phrase
(or any-matching-term) occurrences, df = number of docs containing the
unit, idf/weighting identical to a plain term (fts5_aux.c via
xQueryPhrase/xInstCount). We reproduce that exactly — rank-identity is
pinned in tests/test_rank_identity.py against the FTS5 oracle.

Execution shape (all sizes bounded by the query terms' postings):

- positional queries (phrase, phrase_prefix, NEAR, and span_near in
  search/spans.py) share one path. ``_candidates`` reads the postings
  pruned to the query terms' term_bucket partitions with
  `term IN (...)` pushed down, finds the docs holding every term from
  the skinny (doc_id, term) columns, and groups only those docs'
  position lists. ``_positional_matches`` is the one Arrow kernel: a
  pandas map over Arrow batches that decodes every position list of a
  batch at once and applies the query's ``tf_of`` to each doc. Every
  tf derives from one instance rule, ``_instance_intervals``; NEAR
  keeps the instances ``_near_kept`` marks, and highlight.py wraps the
  same ones.
- prefix: `term LIKE 'p%'` is pushed to the parquet scan as
  StringStartsWith, pruned to the term buckets the sorted term
  dictionary resolves; per-doc tf is a plain sum.
- all need the unit's df for the final score; the match relation is
  persisted, counted (a metrics-sized job), then top-k'd — at cluster
  scale this is one extra pass over an already-filtered, in-memory
  relation.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from gopensearch_spark import codecs
from gopensearch_spark.search.bm25 import idf, term_buckets_for, tf_norm

_EMPTY = "doc_id long, score double"

# Match relations persisted for the CURRENT query only (they serve the
# unit-df count plus the scoring scan). They are released when the NEXT
# top-level query begins, so repeated phrase/NEAR/expression searches
# don't accumulate cached DataFrames for the session's lifetime. A query
# may hold several persists (NEAR units, multi-leaf expressions), hence
# the depth-guarded scope: only a depth-0 entry releases. Driver-side
# query execution is single-threaded BY CONTRACT — the owner check below
# makes a concurrent caller fail loudly instead of silently unpersisting
# another query's in-flight relations.
_live_persists: list[DataFrame] = []
_scope_depth = 0
_scope_owner: int | None = None


@contextmanager
def query_scope():
    """Top-level query boundary: entering at depth 0 releases the
    previous query's persisted match relations."""
    global _scope_depth, _scope_owner
    me = threading.get_ident()
    if _scope_depth == 0:
        _scope_owner = me
        while _live_persists:
            _live_persists.pop().unpersist()
    elif _scope_owner != me:
        raise RuntimeError(
            "concurrent full-text queries on one driver are not supported: "
            "query_scope is single-threaded (run queries sequentially or "
            "use separate SparkSessions)"
        )
    _scope_depth += 1
    try:
        yield
    finally:
        _scope_depth -= 1


def _persist_for_query(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_persists.append(df)
    return df


def _positional_stats(index_dir: str) -> dict:
    """Corpus stats of an index that can answer positional queries."""
    from gopensearch_spark.search.readers import corpus_stats

    stats = corpus_stats(index_dir)
    if not stats.get("with_positions"):
        raise ValueError(f"index at {index_dir} was built without positions")
    return stats


def _score_topk(matches: DataFrame, stats: dict, k: int | None) -> DataFrame:
    """(doc_id, doc_len, tf) + unit df -> top-k (doc_id, score).

    ``k=None`` returns the full unordered scoring relation (the Engine
    joins it against filters before its own top-k — no global sort)."""
    matches = _persist_for_query(matches)
    df_unit = matches.count()
    if df_unit == 0:
        return matches.sparkSession.createDataFrame([], _EMPTY)
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    w = tf_norm(tf, dl, stats["avg_doc_len"])
    scores = matches.select("doc_id", (F.lit(idf(stats["n_docs"], df_unit)) * w).alias("score"))
    if k is None:
        return scores
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _prefix_buckets(term_dict: DataFrame, prefix: str, n_buckets: int) -> set[int]:
    """The term_buckets holding a term that starts with ``prefix``.

    A tiny job on the SORTED term dictionary (parquet min/max skipping
    answers the startswith over sorted runs), so the postings scan is
    partition-pruned like an exact-term query instead of reading every
    bucket (the hash layout's blind spot for prefixes)."""
    return {
        r["b"]
        for r in term_dict.where(F.col("term").startswith(prefix))
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .distinct()
        .collect()
    }


def _candidates(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    exact: list[str],
    prefix: str | None = None,
) -> DataFrame | None:
    """The one candidate pass: (doc_id, terms[], poss[], doc_len) for the
    docs holding every ``exact`` term and, given a ``prefix``, at least
    one term starting with it. ``None`` when the prefix matches no
    indexed term.

    Two passes, deliberately: a skinny (doc_id, term) aggregate finds
    the candidate docs FIRST, and only their rows enter the positions
    groupBy. On a rare∧head phrase the docs containing just the head
    term vastly outnumber the candidates, and ``positions`` is the fat
    column — one-pass grouping would shuffle every head posting's
    position bytes only to drop the doc at the all-terms-present
    filter. The skinny aggregate shuffles 16-byte rows; the fat shuffle
    then carries candidates only (the candidate side usually
    broadcasts — AQE decides).
    """
    from gopensearch_spark.search.readers import index_table, term_dict

    is_exact = F.col("term").isin(exact)
    wanted = is_exact
    # counts, not count_distinct: the postings table holds exactly one
    # row per (term, doc_id) by construction (the builder's per-batch tf
    # aggregation; the kernel relies on it when it dicts the per-term
    # position lists), and count_distinct plans a second exchange over
    # the skinny rows
    has_all = F.count("*") == len(exact)
    buckets = set(term_buckets_for(spark, exact, stats["term_buckets"]).values())
    if prefix is not None:
        is_pref = F.col("term").startswith(prefix)
        wanted = is_exact | is_pref
        has_all = (F.count(F.when(is_exact, 1)) == len(exact)) & F.bool_or(is_pref)
        td = term_dict(spark, index_dir)
        if td is None:
            buckets = None  # a stale dict widens the scan, never drops terms
        else:
            pref_buckets = _prefix_buckets(td, prefix, stats["term_buckets"])
            if not pref_buckets:
                return None
            buckets |= pref_buckets
    posts = index_table(spark, index_dir, "postings")
    if buckets is not None:
        posts = posts.where(F.col("term_bucket").isin(sorted(buckets)))
    posts = posts.where(wanted).select("doc_id", "doc_len", "term", "positions")
    cand = posts.groupBy("doc_id").agg(has_all.alias("ok")).where("ok").select("doc_id")
    return (
        posts.join(cand, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.collect_list("term").alias("terms"),
            F.collect_list("positions").alias("poss"),
            F.first("doc_len").alias("doc_len"),
        )
    )


def _positional_matches(grouped: DataFrame, tf_of, n_tf: int = 1) -> DataFrame:
    """The one positional kernel: candidate docs -> (doc_id, doc_len,
    tf) — or tf0..tf{n_tf-1} — where ``tf_of`` maps one doc's
    {term: positions} to ``n_tf`` counts. Docs whose first count is 0
    are dropped inside the kernel: a ``tf > 0`` Filter over a Python
    UDF's output would make Spark evaluate the UDF twice."""
    tfs = ["tf"] if n_tf == 1 else [f"tf{i}" for i in range(n_tf)]
    schema = "doc_id long, doc_len int, " + ", ".join(f"{c} int" for c in tfs)

    def kernel(batches):
        for pdf in batches:
            # one vectorized varint pass over every position list of the
            # batch: per-call decode overhead dominated the kernel on
            # Zipf-tail candidates
            flat = [bytes(p) for ps in pdf["poss"] for p in ps]
            decoded = iter(codecs.delta_decode_chunks(flat))
            rows = []
            for doc_id, ts, dl in zip(pdf["doc_id"], pdf["terms"], pdf["doc_len"]):
                tf = tf_of({t: next(decoded).astype(np.int64) for t in ts})
                if tf[0] > 0:
                    rows.append((doc_id, dl, *tf))
            yield pd.DataFrame(rows, columns=["doc_id", "doc_len", *tfs])

    return grouped.mapInPandas(kernel, schema)


def _instance_intervals(pos: dict, unit: tuple) -> tuple[np.ndarray, np.ndarray]:
    """The one instance rule: (start, end) arrays of a unit's instances
    in one doc's {term: positions}.

    term t -> every position p as [p, p]; phrase [t0..tL] -> chain starts
    s (every t_i at s+i) as [s, s+L-1].
    """
    kind, val = unit
    if kind == "term":
        p = pos.get(val)
        if p is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return p, p
    starts = pos.get(val[0])
    if starts is None:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    for i, t in enumerate(val[1:], 1):
        if starts.size == 0:
            break
        nxt = pos.get(t)
        if nxt is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        starts = starts[np.isin(starts + i, nxt)]
    return starts, starts + (len(val) - 1)


def phrase_match(
    spark: SparkSession, index_dir: str, phrase: str | list[str], k: int | None = 10
) -> DataFrame:
    """Top-k BM25 for a quoted phrase (`t MATCH '"a b"'` in FTS5)."""
    with query_scope():
        return _phrase_match(spark, index_dir, phrase, k)


def _phrase_match(
    spark: SparkSession, index_dir: str, phrase: str | list[str], k: int | None
) -> DataFrame:
    from gopensearch_spark.analysis import normalize_query_terms

    terms = normalize_query_terms(phrase)
    if not terms:
        raise ValueError("empty phrase after tokenization")
    stats = _positional_stats(index_dir)
    if len(terms) == 1:
        from gopensearch_spark.search.bm25 import bm25_match, bm25_scores

        if k is None:
            return bm25_scores(spark, index_dir, terms, mode="and")
        return bm25_match(spark, index_dir, terms, k=k, mode="and")

    unit = ("phrase", terms)

    def tf_of(pos):
        return (_instance_intervals(pos, unit)[0].size,)

    grouped = _candidates(spark, index_dir, stats, sorted(set(terms)))
    return _score_topk(_positional_matches(grouped, tf_of), stats, k)


def prefix_match(
    spark: SparkSession, index_dir: str, prefix: str, k: int | None = 10
) -> DataFrame:
    """Top-k BM25 for a prefix token (`t MATCH 'ab*'` in FTS5)."""
    with query_scope():
        return _prefix_match(spark, index_dir, prefix, k)


def _prefix_match(
    spark: SparkSession, index_dir: str, prefix: str, k: int | None
) -> DataFrame:
    from gopensearch_spark.analysis import tokenize
    from gopensearch_spark.search.readers import corpus_stats, index_table, term_dict

    toks = tokenize(prefix)
    if len(toks) != 1:
        raise ValueError(f"prefix must be a single token, got {toks!r}")
    prefix = toks[0]
    stats = corpus_stats(index_dir)
    posts = index_table(spark, index_dir, "postings")
    td = term_dict(spark, index_dir)
    if td is not None:
        expansion = [
            r["term"]
            for r in td.where(F.col("term").startswith(prefix)).select("term").limit(2).collect()
        ]
        if not expansion:
            return spark.createDataFrame([], _EMPTY)
        if len(expansion) == 1:
            # SINGLE-expansion prefix (common for head-term prefixes):
            # the unit's df and per-doc tf equal the one term's, so BM25
            # is identical to a plain term query — serve it as one
            # instead of shuffling + persisting the term's full
            # (doc_id, tf) relation.
            from gopensearch_spark.search.bm25 import bm25_match, bm25_scores

            if k is None:
                return bm25_scores(spark, index_dir, expansion, mode="or")
            return bm25_match(spark, index_dir, expansion, k=k, mode="or")
        buckets = _prefix_buckets(td, prefix, stats["term_buckets"])
        posts = posts.where(F.col("term_bucket").isin(sorted(buckets)))
    posts = (
        posts.where(F.col("term").startswith(prefix))
        .select("doc_id", "doc_len", "tf")
    )
    matches = posts.groupBy("doc_id").agg(
        F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len")
    )
    return _score_topk(matches, stats, k)


def phrase_prefix_match(
    spark: SparkSession, index_dir: str, phrase: str | list[str], k: int | None = 10
) -> DataFrame:
    """Top-k BM25 for a phrase-prefix (`t MATCH '"a b" *'` in FTS5: the
    final token is a prefix token). ES `match_phrase_prefix` maps here
    (full expansion — no max_expansions truncation; documented
    divergence from Lucene's 50-term default, which silently drops
    matches)."""
    with query_scope():
        return _phrase_prefix_match(spark, index_dir, phrase, k)


def _phrase_prefix_match(
    spark: SparkSession, index_dir: str, phrase: str | list[str], k: int | None
) -> DataFrame:
    from gopensearch_spark.analysis import normalize_query_terms

    terms = normalize_query_terms(phrase)
    if not terms:
        raise ValueError("empty phrase after tokenization")
    exact, prefix = terms[:-1], terms[-1]
    if not exact:
        return _prefix_match(spark, index_dir, prefix, k)
    stats = _positional_stats(index_dir)
    # the phrase's last slot is the union of the positions of every term
    # starting with the prefix (FTS5 `"a b" *`: the expansion is
    # positional, one phrase unit, not a per-expansion OR). Tokens never
    # contain '*', so the slot's key cannot collide with a term.
    slot = prefix + "*"
    unit = ("phrase", [*exact, slot])

    def tf_of(pos):
        pos[slot] = np.unique(np.concatenate([p for t, p in pos.items() if t.startswith(prefix)]))
        return (_instance_intervals(pos, unit)[0].size,)

    grouped = _candidates(spark, index_dir, stats, sorted(set(exact)), prefix)
    if grouped is None:
        return spark.createDataFrame([], _EMPTY)
    return _score_topk(_positional_matches(grouped, tf_of), stats, k)


# --- NEAR groups (FTS5 `NEAR(p1 p2 ..., N)`) ---------------------------------

def _near_kept(intervals: list[tuple[np.ndarray, np.ndarray]], n: int) -> list[np.ndarray]:
    """Per unit, the mask of its instances participating in >= 1 valid
    NEAR set (all False when some unit has no instance).

    FTS5 semantics (pinned empirically against bm25 and highlight() on
    micro-corpora): a selection (one instance per unit) is valid iff
    max(start) - min(end) - 1 <= N; a unit's tf for scoring is the
    number of its instances appearing in at least one valid selection —
    NOT its total tf in the doc — and highlight() wraps exactly those.

    Instance I of unit u participates iff there exists a window low
    bound ``lo <= end_I`` such that every other unit has an instance
    with end >= lo and start <= lo + N + 1, and start_I <= lo + N + 1.
    Candidate lo values only need to range over instance end values.
    Per unit we precompute (ends sorted, suffix-min of starts) so
    "min start among instances with end >= lo" is a binary search.
    """
    if any(s.size == 0 for s, _ in intervals):
        return [np.zeros(s.size, dtype=bool) for s, _ in intervals]
    k = len(intervals)
    ends_sorted, sufmin_s = [], []
    for s, e in intervals:
        order = np.argsort(e, kind="stable")
        es, ss = e[order], s[order]
        ends_sorted.append(es)
        sufmin_s.append(np.minimum.accumulate(ss[::-1])[::-1])
    cand_lo = np.unique(np.concatenate(ends_sorted))
    m = cand_lo.size

    # feas[v, j]: unit v has an instance with end >= cand_lo[j] and
    # start <= cand_lo[j] + n + 1 — one searchsorted per unit, no
    # per-candidate Python.
    hi = cand_lo + n + 1
    feas = np.empty((k, m), dtype=bool)
    for v in range(k):
        idx = np.searchsorted(ends_sorted[v], cand_lo, side="left")
        valid = idx < ends_sorted[v].size
        ms = sufmin_s[v][np.minimum(idx, ends_sorted[v].size - 1)]
        feas[v] = valid & (ms <= hi)
    n_feas = feas.sum(axis=0)

    kept = []
    for u in range(k):
        s_u, e_u = intervals[u]
        # candidate windows where EVERY other unit is feasible
        others_ok = (n_feas - feas[u]) == (k - 1)
        cum = np.concatenate(([0], np.cumsum(others_ok)))
        # instance I participates iff some feasible lo lies in
        # [s_I - n - 1, e_I] (lo <= e_I keeps I's end in window;
        # lo >= s_I - n - 1 keeps I's start within lo + n + 1)
        lo_idx = np.searchsorted(cand_lo, s_u - (n + 1), side="left")
        hi_idx = np.searchsorted(cand_lo, e_u, side="right")
        kept.append((cum[hi_idx] - cum[lo_idx]) > 0)
    return kept


def near_match(
    spark: SparkSession,
    index_dir: str,
    units: list[tuple],
    n: int = 10,
    k: int | None = 10,
) -> DataFrame:
    """Top-k BM25 for `NEAR(u1 u2 ..., n)` over the positional index.

    (See module-level query_scope: persisted match relations are
    released when the next top-level query begins.)

    ``units``: [("term", str) | ("phrase", [str, ...]), ...]. Scoring is
    FTS5 bm25: each unit contributes idf_unit (df = docs containing the
    unit anywhere) * w(total instances in doc), summed over units, for
    docs satisfying the NEAR constraint — pinned rank-identical in
    tests/test_rank_identity.py.
    """
    with query_scope():
        return _near_match(spark, index_dir, units, n, k)


def _near_match(
    spark: SparkSession,
    index_dir: str,
    units: list[tuple],
    n: int,
    k: int | None,
) -> DataFrame:
    from gopensearch_spark.search.readers import term_dfs

    if len(units) < 2:
        raise ValueError("NEAR needs at least two phrases")
    stats = _positional_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]

    def tf_of(pos):
        kept = _near_kept([_instance_intervals(pos, u) for u in units], n)
        return [int(m.sum()) for m in kept]

    all_terms = sorted({t for kind, v in units for t in ([v] if kind == "term" else v)})
    grouped = _candidates(spark, index_dir, stats, all_terms)
    hits = _persist_for_query(_positional_matches(grouped, tf_of, len(units)))
    # per-unit global df: docs containing the unit anywhere (NEAR-unconstrained)
    # -- terms read it from the memoized term_stats lookup (streaming
    # delta rows pre-summed); phrases count their own match relation.
    dfs = []
    tstats = term_dfs(spark, index_dir, all_terms)
    for kind, val in units:
        if kind == "term":
            dfs.append(tstats.get(val, 0))
        else:
            ph = phrase_match(spark, index_dir, list(val), k=None)
            dfs.append(ph.count())
    if any(d == 0 for d in dfs):
        return spark.createDataFrame([], _EMPTY)
    dl = F.col("doc_len").cast("double")
    score = None
    for i, df_u in enumerate(dfs):
        tf = F.col(f"tf{i}").cast("double")
        w = tf_norm(tf, dl, avgdl)
        contrib = F.lit(idf(n_docs, df_u)) * w
        score = contrib if score is None else score + contrib
    scores = hits.select("doc_id", score.alias("score"))
    if k is None:
        return scores
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
