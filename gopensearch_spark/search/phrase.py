"""Phrase and prefix matching over the positional index.

FTS5 (the reference's delegated backend, reference pkg/server/db.go:49)
supports `"a b"` phrase queries and `ab*` prefix queries; both are
scored by bm25() as a SINGLE phrase unit: tf(doc) = number of phrase
(or any-matching-term) occurrences, df = number of docs containing the
unit, idf/weighting identical to a plain term (fts5_aux.c via
xQueryPhrase/xInstCount). We reproduce that exactly — rank-identity is
pinned in tests/test_rank_identity.py against the FTS5 oracle.

Execution shape (all sizes bounded by the query terms' postings):

- phrase: postings for the phrase's terms are read with term_bucket
  partition pruning + `term IN (...)` pushdown, grouped per doc_id (a
  shuffle of ONLY those postings), and an Arrow-batched pandas UDF
  decodes the delta+varint position lists and counts adjacency chains
  with vectorized `np.isin` — no per-position Python.
- prefix: `term LIKE 'p%'` is pushed to the parquet scan as
  StringStartsWith (term_bucket pruning is impossible under a hash
  layout — documented trade-off); per-doc tf is a plain sum.
- both need the unit's df for the final score; the match relation is
  persisted, counted (a metrics-sized job), then top-k'd — at cluster
  scale this is one extra pass over an already-filtered, in-memory
  relation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from gopensearch_spark import codecs
from gopensearch_spark.search.bm25 import K1, B, idf, term_buckets_for

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


import threading
from contextlib import contextmanager


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


def _score_topk(matches: DataFrame, n_docs: int, avgdl: float, k: int | None) -> DataFrame:
    """(doc_id, doc_len, tf) + unit df -> top-k (doc_id, score).

    ``k=None`` returns the full unordered scoring relation (the Engine
    joins it against filters before its own top-k — no global sort)."""
    matches = _persist_for_query(matches)
    df_unit = matches.count()
    if df_unit == 0:
        return matches.sparkSession.createDataFrame([], _EMPTY)
    idf_u = idf(n_docs, df_unit)
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    w = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    scores = matches.select("doc_id", (F.lit(idf_u) * w).alias("score"))
    if k is None:
        return scores
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _make_phrase_tf_udf(phrase_terms: list[str]):
    """pandas UDF: (terms array, encoded-positions array) -> phrase tf.

    Chain check: keep start positions p of term0 such that term_i has a
    hit at p+i for every i — vectorized np.isin per term.
    """

    @F.pandas_udf(T.IntegerType())
    def phrase_tf(terms: pd.Series, poss: pd.Series) -> pd.Series:
        # batch-decode every position list of the Arrow batch in ONE
        # vectorized varint pass (codecs.delta_decode_chunks): per-call
        # decode overhead dominated the kernel on Zipf-tail candidates
        flat = [bytes(p) for ps in poss for p in ps]
        decoded = iter(codecs.delta_decode_chunks(flat))

        def one(ts) -> int:
            pos = {t: next(decoded).astype(np.int64) for t in ts}
            starts = pos[phrase_terms[0]]
            for i, t in enumerate(phrase_terms[1:], 1):
                if starts.size == 0:
                    return 0
                starts = starts[np.isin(starts + i, pos[t])]
            return int(starts.size)

        return pd.Series([one(ts) for ts in terms], dtype="int32")

    # asNondeterministic: the tf>0 filter over this UDF's output
    # otherwise gets the UDF DUPLICATED below the pushed filter (one
    # ArrowEvalPython to filter, another to project — guide §4.4);
    # the kernel is pure, the flag only blocks that rewrite.
    return phrase_tf.asNondeterministic()


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
    from gopensearch_spark.search.readers import corpus_stats

    terms = normalize_query_terms(phrase)
    if not terms:
        raise ValueError("empty phrase after tokenization")
    stats = corpus_stats(index_dir)
    if not stats.get("with_positions"):
        raise ValueError(f"index at {index_dir} was built without positions")
    if len(terms) == 1:
        from gopensearch_spark.search.bm25 import bm25_match, bm25_scores

        if k is None:
            return bm25_scores(spark, index_dir, terms, mode="and")
        return bm25_match(spark, index_dir, terms, k=k, mode="and")

    distinct = sorted(set(terms))
    posts = _pruned_positional_postings(spark, index_dir, distinct, stats)
    grouped = _group_docs_with_all_terms(posts, len(distinct))
    tf_udf = _make_phrase_tf_udf(terms)
    matches = grouped.select(
        "doc_id", "doc_len", tf_udf("terms", "poss").alias("tf")
    ).where(F.col("tf") > 0)
    return _score_topk(matches, stats["n_docs"], stats["avg_doc_len"], k)


def _pruned_positional_postings(
    spark: SparkSession, index_dir: str, distinct_terms: list[str], stats: dict
) -> DataFrame:
    from gopensearch_spark.search.readers import index_table

    buckets = sorted(
        set(term_buckets_for(spark, distinct_terms, stats["term_buckets"]).values())
    )
    return (
        index_table(spark, index_dir, "postings")
        .where(F.col("term_bucket").isin(buckets) & F.col("term").isin(distinct_terms))
        .select("doc_id", "doc_len", "term", "positions")
    )


def _group_docs_with_all_terms(posts: DataFrame, n_terms: int) -> DataFrame:
    """(doc_id, terms[], poss[], doc_len) for docs containing EVERY term.

    Two-pass shape, deliberately: a skinny (doc_id, term) pass finds the
    docs containing all terms FIRST, and only their rows enter the
    positions groupBy. On a rare∧head phrase the docs containing just
    the head term vastly outnumber the candidates, and ``positions`` is
    the fat column — one-pass grouping would shuffle every head
    posting's position bytes only to drop the doc at the
    all-terms-present filter. The skinny aggregate shuffles 16-byte
    rows; the fat shuffle then carries candidates only (the candidate
    side usually broadcasts — AQE decides).
    """
    # count(*), not count_distinct: the postings table holds exactly one
    # row per (term, doc_id) by construction (the builder's per-batch
    # tf aggregation; the phrase kernels already rely on this when they
    # dict the per-term position lists), and count_distinct plans a
    # second exchange over the skinny rows that plain count avoids.
    cand = (
        posts.select("doc_id")
        .groupBy("doc_id")
        .agg(F.count("*").alias("nt"))
        .where(F.col("nt") == n_terms)
        .select("doc_id")
    )
    return (
        posts.join(cand, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.collect_list("term").alias("terms"),
            F.collect_list("positions").alias("poss"),
            F.first("doc_len").alias("doc_len"),
        )
    )


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

    from gopensearch_spark.search.readers import corpus_stats, index_table

    toks = tokenize(prefix)
    if len(toks) != 1:
        raise ValueError(f"prefix must be a single token, got {toks!r}")
    prefix = toks[0]
    from gopensearch_spark.index.builder import read_term_dict_meta

    stats = corpus_stats(index_dir)
    posts = index_table(spark, index_dir, "postings")
    meta = read_term_dict_meta(index_dir)
    if meta is not None and meta.get("n_docs") == stats["n_docs"]:
        expansion = [
            r["term"]
            for r in index_table(spark, index_dir, "term_dict")
            .where(F.col("term").startswith(prefix))
            .select("term")
            .limit(2)
            .collect()
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
        # resolve the prefix against the SORTED term dictionary first: a
        # tiny job (parquet min/max skipping answers the startswith over
        # sorted runs) yielding the <= n_buckets distinct term_buckets
        # that contain matching terms — so the postings scan below is
        # partition-pruned exactly like an exact-term query, instead of
        # reading every bucket (the hash layout's blind spot for
        # prefixes). Both finalize_stats AND every streaming micro-batch
        # rebuild the dict; the _meta.json n_docs check falls back to
        # the full scan whenever postings are NEWER than the dict (raw
        # build_postings append without finalize, crash between the
        # stats fold and the dict rebuild) — a stale dict must degrade
        # to a slower plan, never silently drop matching terms.
        buckets = [
            r["b"]
            for r in index_table(spark, index_dir, "term_dict")
            .where(F.col("term").startswith(prefix))
            .select(
                F.pmod(F.xxhash64("term"), F.lit(stats["term_buckets"])).cast("int").alias("b")
            )
            .distinct()
            .collect()
        ]
        if not buckets:
            return spark.createDataFrame([], _EMPTY)
        posts = posts.where(F.col("term_bucket").isin(sorted(buckets)))
    posts = (
        posts.where(F.col("term").startswith(prefix))
        .select("doc_id", "doc_len", "tf")
    )
    matches = posts.groupBy("doc_id").agg(
        F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len")
    )
    return _score_topk(matches, stats["n_docs"], stats["avg_doc_len"], k)


def _make_phrase_prefix_tf_udf(exact_terms: list[str], prefix: str):
    """pandas UDF for a phrase whose LAST token is a prefix: keep start
    positions p of term0 such that term_i hits p+i for every exact slot,
    and ANY prefix-matching term hits p+n. The prefix slot's position
    set is the union over every term in the doc starting with `prefix`
    (FTS5 `"a b" *` semantics: the expansion is positional, one phrase
    unit, not a per-expansion OR)."""
    n = len(exact_terms)
    exact_set = set(exact_terms)

    @F.pandas_udf(T.IntegerType())
    def phrase_prefix_tf(terms: pd.Series, poss: pd.Series) -> pd.Series:
        # batch decode (see _make_phrase_tf_udf)
        flat = [bytes(p) for ps in poss for p in ps]
        decoded = iter(codecs.delta_decode_chunks(flat))

        def one(ts) -> int:
            pos: dict = {}
            pref: list = []
            for t in ts:
                arr = next(decoded).astype(np.int64)
                if t in exact_set:
                    pos[t] = arr
                if t.startswith(prefix):
                    pref.append(arr)
            if len(pos) != len(exact_set) or not pref:
                return 0
            starts = pos[exact_terms[0]]
            for i, t in enumerate(exact_terms[1:], 1):
                if starts.size == 0:
                    return 0
                starts = starts[np.isin(starts + i, pos[t])]
            union = np.unique(np.concatenate(pref))
            return int(np.isin(starts + n, union).sum())

        return pd.Series([one(ts) for ts in terms], dtype="int32")

    # see _make_phrase_tf_udf: blocks filter-pushdown duplication
    return phrase_prefix_tf.asNondeterministic()


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
    from gopensearch_spark.search.readers import corpus_stats, index_table

    terms = normalize_query_terms(phrase)
    if not terms:
        raise ValueError("empty phrase after tokenization")
    exact, prefix = terms[:-1], terms[-1]
    if not exact:
        return _prefix_match(spark, index_dir, prefix, k)
    stats = corpus_stats(index_dir)
    if not stats.get("with_positions"):
        raise ValueError(f"index at {index_dir} was built without positions")

    # scan pruning: exact terms prune to their hash buckets; the prefix
    # disjunct reuses the sorted term_dict to resolve its bucket set
    # (same freshness-token degrade rule as _prefix_match — a stale
    # dict widens the scan, never drops terms)
    from gopensearch_spark.index.builder import read_term_dict_meta

    distinct_exact = sorted(set(exact))
    exact_buckets = set(
        term_buckets_for(spark, distinct_exact, stats["term_buckets"]).values()
    )
    posts = index_table(spark, index_dir, "postings")
    is_exact = F.col("term").isin(distinct_exact)
    is_pref = F.col("term").startswith(prefix)
    meta = read_term_dict_meta(index_dir)
    if meta is not None and meta.get("n_docs") == stats["n_docs"]:
        pref_buckets = {
            r["b"]
            for r in index_table(spark, index_dir, "term_dict")
            .where(F.col("term").startswith(prefix))
            .select(
                F.pmod(F.xxhash64("term"), F.lit(stats["term_buckets"])).cast("int").alias("b")
            )
            .distinct()
            .collect()
        }
        if not pref_buckets:
            return spark.createDataFrame([], _EMPTY)
        posts = posts.where(
            F.col("term_bucket").isin(sorted(exact_buckets | pref_buckets))
        )
    posts = posts.where(is_exact | is_pref).select(
        "doc_id", "doc_len", "term", "positions"
    )

    # skinny candidate pass first (same shape as _group_docs_with_all_terms):
    # docs holding every exact term AND >= 1 prefix expansion — only their
    # position bytes enter the fat groupBy
    cand = (
        posts.select(
            "doc_id",
            F.when(F.col("term").isin(distinct_exact), F.col("term")).alias("et"),
            F.col("term").startswith(prefix).cast("int").alias("pf"),
        )
        .groupBy("doc_id")
        # count("et") skips nulls; rows are unique per (term, doc_id)
        # (see _group_docs_with_all_terms), so it equals the distinct
        # exact-term count without count_distinct's extra exchange
        .agg(F.count("et").alias("ne"), F.max("pf").alias("hp"))
        .where((F.col("ne") == len(distinct_exact)) & (F.col("hp") == 1))
        .select("doc_id")
    )
    grouped = (
        posts.join(cand, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.collect_list("term").alias("terms"),
            F.collect_list("positions").alias("poss"),
            F.first("doc_len").alias("doc_len"),
        )
    )
    tf_udf = _make_phrase_prefix_tf_udf(exact, prefix)
    matches = grouped.select(
        "doc_id", "doc_len", tf_udf("terms", "poss").alias("tf")
    ).where(F.col("tf") > 0)
    return _score_topk(matches, stats["n_docs"], stats["avg_doc_len"], k)


# --- NEAR groups (FTS5 `NEAR(p1 p2 ..., N)`) ---------------------------------

def _instance_intervals(pos: dict, unit: tuple) -> tuple[np.ndarray, np.ndarray]:
    """Instance (start, end) arrays for a unit over one doc's positions.

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


def _near_trimmed_tfs(intervals: list[tuple[np.ndarray, np.ndarray]], n: int) -> list[int]:
    """Per-unit count of instances participating in >= 1 valid NEAR set.

    FTS5 semantics (pinned empirically against bm25 on micro-corpora):
    a selection (one instance per unit) is valid iff
    max(start) - min(end) - 1 <= N, and each unit's tf for scoring is
    the number of its instances appearing in at least one valid
    selection — NOT its total tf in the doc.

    Instance I of unit u participates iff there exists a window low
    bound ``lo <= end_I`` such that every other unit has an instance
    with end >= lo and start <= lo + N + 1, and start_I <= lo + N + 1.
    Candidate lo values only need to range over instance end values.
    Per unit we precompute (ends sorted, suffix-min of starts) so
    "min start among instances with end >= lo" is a binary search.
    """
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

    tfs = []
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
        tfs.append(int(((cum[hi_idx] - cum[lo_idx]) > 0).sum()))
    return tfs


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
    from gopensearch_spark.search.readers import corpus_stats, index_table

    if len(units) < 2:
        raise ValueError("NEAR needs at least two phrases")
    stats = corpus_stats(index_dir)
    if not stats.get("with_positions"):
        raise ValueError(f"index at {index_dir} was built without positions")
    n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]

    all_terms = sorted({t for kind, v in units for t in ([v] if kind == "term" else v)})
    posts = _pruned_positional_postings(spark, index_dir, all_terms, stats)
    grouped = _group_docs_with_all_terms(posts, len(all_terms))

    from gopensearch_spark.search.readers import term_dfs

    n_units = len(units)
    out_schema = "doc_id long, doc_len int, near_ok boolean, " + ", ".join(
        f"tf{i} int" for i in range(n_units)
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            # batch decode across the whole pandas frame (see
            # _make_phrase_tf_udf)
            flat = [bytes(p) for ps in pdf["poss"] for p in ps]
            decoded = iter(codecs.delta_decode_chunks(flat))
            for doc_id, ts, dl in zip(pdf["doc_id"], pdf["terms"], pdf["doc_len"]):
                pos = {t: next(decoded).astype(np.int64) for t in ts}
                ivs = []
                ok = True
                for u in units:
                    s, e = _instance_intervals(pos, u)
                    if s.size == 0:
                        ok = False
                        break
                    ivs.append((s, e))
                if not ok:
                    continue
                tfs = _near_trimmed_tfs(ivs, n)
                # a valid selection exists iff every unit kept >= 1 instance
                rows.append((doc_id, dl, tfs[0] > 0, *tfs))
            cols = ["doc_id", "doc_len", "near_ok"] + [f"tf{i}" for i in range(n_units)]
            yield pd.DataFrame(rows, columns=cols)

    matches = _persist_for_query(grouped.mapInPandas(kernel, out_schema))
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
    hits = matches.where("near_ok")
    if any(d == 0 for d in dfs):
        return spark.createDataFrame([], _EMPTY)
    dl = F.col("doc_len").cast("double")
    score = None
    for i, df_u in enumerate(dfs):
        tf = F.col(f"tf{i}").cast("double")
        w = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        contrib = F.lit(idf(n_docs, df_u)) * w
        score = contrib if score is None else score + contrib
    scores = hits.select("doc_id", score.alias("score"))
    if k is None:
        return scores
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
