"""Block-max document-at-a-time top-k over the compressed block index.

This is the from-scratch analogue of FTS5's doclist traversal + bm25
ranking (the layer the reference delegates entirely to SQLite,
reference pkg/server/db.go:49). Execution model:

- the driver resolves query-term idfs from term_stats (a few rows) and
  computes nothing else;
- block rows for the query terms are read with term_bucket partition
  pruning + `term IN (...)` pushdown — only those terms' compressed
  blocks ever leave disk;
- each *segment* (disjoint doc_id hash class, the index's skew-splitting
  axis) is scored independently by an Arrow-batched `applyInPandas`
  kernel: numpy varint decode, document-at-a-time intersection for AND,
  accumulator-bounded evaluation with block-max upper bounds for OR
  (Ding & Suel 2011 block-max WAND family);
- per-segment top-k candidates feed a global
  `TakeOrderedAndProject(k)` — the only data crossing segments is
  <= k rows per segment.

Scores are rank-identical to SQLite FTS5 bm25() (pinned by
tests/test_rank_identity.py).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gopensearch_spark import codecs
from gopensearch_spark.search.bm25 import K1, B, bm25_match, idf, term_buckets_for


def _block_upper_bound(max_tf: np.ndarray, min_dl: np.ndarray, idf_t: float, avgdl: float) -> np.ndarray:
    """BM25 upper bound for a block: w() is increasing in tf, decreasing
    in dl, so (max_tf, min_dl) bounds every posting in the block."""
    tf = max_tf.astype(np.float64)
    dl = min_dl.astype(np.float64)
    return idf_t * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _decoders(block_codec: str):
    """(ids_decode, vals_decode) matching builder._encoders."""
    if block_codec == "pfor":
        return codecs.delta_pfor_decode, codecs.pfor_decode
    return codecs.delta_decode, codecs.varint_decode


def _decode_term(
    rows: pd.DataFrame, dec_ids=codecs.delta_decode, dec_vals=codecs.varint_decode
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's blocks (already sorted by block_id) to arrays."""
    ids = np.concatenate([dec_ids(b) for b in rows["doc_ids"]])
    tfs = np.concatenate([dec_vals(b) for b in rows["tfs"]])
    dls = np.concatenate([dec_vals(b) for b in rows["doc_lens"]])
    return ids.astype(np.int64), tfs.astype(np.float64), dls.astype(np.float64)


def _scores(tfs: np.ndarray, dls: np.ndarray, idf_t: float, avgdl: float) -> np.ndarray:
    return idf_t * tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))


def _score_segment_and(groups: dict, idfs: dict, avgdl: float, k: int, dec=None) -> pd.DataFrame:
    """DAAT conjunctive intersection, rarest term first, with PER-BLOCK
    candidate-membership skipping: later (bigger) terms only decode
    blocks whose [min_doc_id, max_doc_id] may contain a surviving
    candidate (binary search on the sorted candidate set, per block —
    a rare∧head query decodes only the head blocks its candidates hash
    into, not the head term's whole posting range). Candidates are
    sorted once after the rarest term; a multi-run index (streaming
    micro-batches / build slices append interleaved block runs) decodes
    unsorted, hence the explicit sort, never positional first/last."""
    order = sorted(groups, key=lambda t: int(groups[t]["n"].sum()))  # rarest term first
    cand_ids, cand_score = None, None
    for t in order:
        rows = groups[t]
        if cand_ids is not None:
            mn = rows["min_doc_id"].to_numpy()
            mx = rows["max_doc_id"].to_numpy()
            keep = np.searchsorted(cand_ids, mx, side="right") > np.searchsorted(
                cand_ids, mn, side="left"
            )
            if not keep.any():
                return pd.DataFrame({"doc_id": [], "score": []})
            if not keep.all():
                rows = rows[keep]
        ids, tfs, dls = _decode_term(rows, *dec) if dec else _decode_term(rows)
        sc = _scores(tfs, dls, idfs[t], avgdl)
        if cand_ids is None:
            srt = np.argsort(ids, kind="stable")
            cand_ids, cand_score = ids[srt], sc[srt]
        else:
            common, ia, ib = np.intersect1d(cand_ids, ids, assume_unique=True, return_indices=True)
            if common.size == 0:
                return pd.DataFrame({"doc_id": [], "score": []})
            cand_ids, cand_score = common, cand_score[ia] + sc[ib]
    return _topk_frame(cand_ids, cand_score, k)


def _score_segment_or(groups: dict, idfs: dict, avgdl: float, k: int, dec=None) -> pd.DataFrame:
    """Disjunctive top-k with PER-BLOCK block-max pruning (Ding & Suel
    2011 family): terms are processed in descending max-impact order;
    a block of term t is decoded only if it either

    - could still open a NEW top-k candidate:
      ``block_ub + sum(upper bounds of terms after t) >= kth`` (the
      running k-th accumulator score), or
    - may contain a SURVIVING accumulator member (sorted-array range
      membership on the block's [min_doc_id, max_doc_id] — conservative
      superset, so surviving accumulator scores stay complete).

    Accumulators are PRUNED before each term (quit/continue TAAT):
    a member whose score plus ALL remaining terms' upper bounds cannot
    reach kth is dropped. Without this the accumulator set stays dense
    (every doc of every processed term) and the range check keeps every
    block — measured 100% blocks decoded; with it, once the viable set
    shrinks toward the true top-k, whole posting ranges of low-impact
    terms (e.g. an idf-floored head term under OR) skip entirely.

    Exactness: a doc that is ever dropped/skipped while outside the
    accumulator set has total score < kth(time) <= true-k-th score (the
    bounds include every unprocessed term's full upper bound), so it
    can never belong to the true top-k; every true top-k doc therefore
    survives with all its blocks decoded and an EXACT score, and docs
    re-opened later with partial scores rank strictly below them. Rank
    identity vs FTS5 is pinned (tests/test_rank_identity.py, seeded
    fuzz, multi-run streaming indexes)."""
    term_ub = {}
    block_ubs = {}
    for t, rows in groups.items():
        ub = _block_upper_bound(rows["max_tf"].to_numpy(), rows["min_doc_len"].to_numpy(), idfs[t], avgdl)
        block_ubs[t] = ub
        term_ub[t] = float(ub.max())
    order = sorted(groups, key=lambda t: -term_ub[t])
    remaining_ub = sum(term_ub.values())

    acc_ids = np.empty(0, dtype=np.int64)  # kept sorted (np.unique)
    acc_sc = np.empty(0, dtype=np.float64)
    for t in order:
        rows = groups[t]
        remaining_after = remaining_ub - term_ub[t]
        kth = np.partition(acc_sc, -k)[-k] if acc_sc.size >= k else -np.inf
        if np.isfinite(kth):
            # quit/continue: drop members that cannot reach the top-k
            # even with every remaining term (incl. t) at full bound
            keep_acc = (acc_sc + remaining_ub) >= kth
            if not keep_acc.all():
                acc_ids, acc_sc = acc_ids[keep_acc], acc_sc[keep_acc]
            viable_new = (block_ubs[t] + remaining_after) >= kth
            mn = rows["min_doc_id"].to_numpy()
            mx = rows["max_doc_id"].to_numpy()
            has_acc = np.searchsorted(acc_ids, mx, side="right") > np.searchsorted(
                acc_ids, mn, side="left"
            )
            keep = viable_new | has_acc
            if not keep.all():
                rows = rows[keep]
            if rows.empty:
                remaining_ub = remaining_after
                continue
        ids, tfs, dls = _decode_term(rows, *dec) if dec else _decode_term(rows)
        sc = _scores(tfs, dls, idfs[t], avgdl)
        merged = np.concatenate([acc_ids, ids])
        scores = np.concatenate([acc_sc, sc])
        uniq, inv = np.unique(merged, return_inverse=True)
        summed = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(summed, inv, scores)
        acc_ids, acc_sc = uniq, summed
        remaining_ub = remaining_after
    return _topk_frame(acc_ids, acc_sc, k)


def _topk_frame(ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    if ids is None or ids.size == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"), "score": pd.Series([], dtype="float64")})
    if ids.size > k:
        # score desc, doc_id asc — matches FTS5's (bm25, rowid) order
        sel = np.lexsort((ids, -scores))[:k]
    else:
        sel = np.lexsort((ids, -scores))
    return pd.DataFrame({"doc_id": ids[sel].astype("int64"), "score": scores[sel]})


# Pre-filter engages only when the query terms' total postings exceed
# this — per-segment Arrow groups below it are trivially small, and the
# probe jobs would be pure latency on a sandbox-sized index.
PREFILTER_MIN_POSTINGS = 500_000
# AND pre-filter broadcasts the rarest term's block ranges; skip it when
# even the rarest term is this common (the broadcast would be large and
# the range join unselective).
PREFILTER_MAX_RARE_DF = 1 << 20


def _bm25_w(tf, dl, avgdl: float):
    """BM25 tf-weight as a Column expression (monotone up in tf, down in dl)."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _idf_map(idfs: dict) -> F.Column:
    kv = []
    for t, v in idfs.items():
        kv += [F.lit(t), F.lit(float(v))]
    return F.create_map(*kv)[F.col("term")]


def _prefilter_blocks(
    blocks: DataFrame, idfs: dict, dfs: dict, avgdl: float, k: int, mode: str
) -> DataFrame:
    """Drop block rows that provably cannot affect the exact top-k BEFORE
    the per-segment applyInPandas group materializes them — the kernel's
    own skipping decides what to DECODE, but only after a whole segment's
    block rows (compressed bytes included) sit in one pandas frame. At
    10^12 docs a stopword's per-segment rows are the per-task memory
    bound; this filter makes that bound ~(candidate blocks) instead of
    ~(all blocks of the head term).

    AND — rarest-term range overlap: a kept block of term t must overlap
    [min_doc_id, max_doc_id] of SOME rarest-term block in the same
    segment. Exact: an AND candidate doc appears in the rare term's
    postings, hence in some rare block r of its own segment; any block of
    any other term containing that doc overlaps r by construction, so
    dropped blocks contain no candidate.

    OR — score-floor filter: the per-block LOWER bound lb(min_tf,
    max_doc_len) gives, per term, >= k distinct docs scoring >= theta
    (cumulate block n over that term's best-lb blocks: within one term a
    doc occurs once), so the true k-th score >= theta. A block of term t
    is kept iff ub_t(block) + sum_{s != t} idf_s*(K1+1) >= theta (the
    free tf->inf cap bounds every other term's contribution). Any doc in
    a dropped block scores < theta <= kth, so it is outside the true
    top-k; every true top-k doc's blocks survive (its ub >= its score >=
    theta), so survivors keep EXACT scores and partial-score artifacts
    rank strictly below them. Rank identity is pinned by
    tests/test_plans.py::test_wand_prefilter_* and the rank-identity
    fuzz suite."""
    idf_col = _idf_map(idfs)
    ub = idf_col * _bm25_w(F.col("max_tf").cast("double"),
                           F.col("min_doc_len").cast("double"), avgdl)
    if mode == "and":
        rare = min(dfs, key=lambda t: dfs[t])
        if dfs[rare] > PREFILTER_MAX_RARE_DF:
            return blocks
        b = blocks.alias("b")
        r = (
            blocks.where(F.col("term") == rare)
            .select(
                F.col("seg_id").alias("r_seg"),
                F.col("min_doc_id").alias("r_min"),
                F.col("max_doc_id").alias("r_max"),
            )
            .alias("r")
        )
        return b.join(
            F.broadcast(r),
            (F.col("b.seg_id") == F.col("r.r_seg"))
            & (F.col("b.min_doc_id") <= F.col("r.r_max"))
            & (F.col("b.max_doc_id") >= F.col("r.r_min")),
            "leftsemi",
        )
    # OR: theta probe — one TakeOrdered job over (term, lb, n), k rows
    # per term suffice (block n >= 1)
    lb = idf_col * _bm25_w(F.col("min_tf").cast("double"),
                           F.col("max_doc_len").cast("double"), avgdl)
    top = (
        blocks.select("term", lb.alias("lb"), "n")
        .orderBy(F.desc("lb"))
        .limit(k * len(idfs))
        .collect()
    )
    theta = None
    per_term: dict[str, list] = {}
    for row in top:
        per_term.setdefault(row["term"], []).append(row)
    for t, rows in per_term.items():
        cum = 0
        for row in rows:  # already in global lb-desc order
            cum += row["n"]
            if cum >= k:
                theta = row["lb"] if theta is None else max(theta, row["lb"])
                break
    if theta is None:
        return blocks  # fewer than k docs under any single term: no safe floor
    caps = {t: idfs[t] * (K1 + 1.0) for t in idfs}
    total_cap = sum(caps.values())
    thr_kv = []
    for t in idfs:
        thr_kv += [F.lit(t), F.lit(float(theta - (total_cap - caps[t])))]
    thr = F.create_map(*thr_kv)[F.col("term")]
    return blocks.where(ub >= thr)


def wand_match(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    mode: str = "and",
    prefilter_min_postings: int = PREFILTER_MIN_POSTINGS,
) -> DataFrame:
    """Top-k BM25 match over the compressed block index."""
    from gopensearch_spark.analysis import normalize_query_terms

    counts = Counter(normalize_query_terms(query))
    terms = sorted(counts)
    if not terms:
        raise ValueError("empty query after tokenization")
    from gopensearch_spark.search.readers import (
        corpus_stats, hot_blocks, index_table, term_dfs,
    )

    stats = corpus_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]
    buckets = sorted(set(term_buckets_for(spark, terms, stats["term_buckets"]).values()))

    # memoized df resolution (delta rows pre-summed; absent terms = 0);
    # a repeated query term scores once per occurrence, so its weighted
    # idf also scales every upper bound derived from it
    all_dfs = term_dfs(spark, index_dir, terms)
    idfs = {t: counts[t] * idf(n_docs, d) for t, d in all_dfs.items() if d > 0}
    if mode == "and" and len(idfs) < len(terms):
        return spark.createDataFrame([], "doc_id long, score double")
    present = sorted(idfs)
    dfs = {t: all_dfs[t] for t in present}

    # a warmed index (readers.warm_index) serves from the in-memory
    # seg_id-partitioned relation: no parquet scan, no shuffle — the
    # kernel stage reads cached batches directly (batch-stats pruning
    # replaces term_bucket partition pruning)
    hot = hot_blocks(spark, index_dir)
    if hot is not None:
        blocks = hot.where(F.col("term").isin(present))
    else:
        blocks = index_table(spark, index_dir, "blocks").where(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
        )
    # Bound each segment group's materialized rows (see _prefilter_blocks).
    # Engages only past the postings threshold AND on indexes whose block
    # format carries the lower-bound columns (round-4 format).
    if (
        sum(dfs.values()) >= prefilter_min_postings
        and "min_tf" in blocks.columns
    ):
        blocks = _prefilter_blocks(blocks, idfs, dfs, avgdl, k, mode)

    dec = _decoders(stats.get("block_codec", "varint"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = {t: g for t, g in pdf.groupby("term")}
        if mode == "and":
            if len(groups) < len(present):
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"), "score": pd.Series([], dtype="float64")})
            return _score_segment_and(groups, idfs, avgdl, k, dec)
        return _score_segment_or(groups, idfs, avgdl, k, dec)

    per_seg = blocks.groupBy("seg_id").applyInPandas(kernel, "doc_id long, score double")
    return per_seg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# A pure ``match`` top-k with fewer total postings than this takes the
# flat JVM plan (``match_topk``); the WAND kernel's Python-worker round
# trip and decode only pay past it. Set to the edge of a crossover check
# on warm Zipf indexes (100k/400k/1M docs, local[4], top-10, median of
# 3-5): the flat plan won 41 of 44 queries from 1k to 10.5M postings,
# and total postings did not predict the three WAND wins (8 head terms
# in OR at 2.0M and 5.1M). Past 10M postings the WAND side is unmeasured.
FLAT_TOPK_MAX_POSTINGS = 10_000_000


def match_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    mode: str = "and",
) -> DataFrame:
    """Top-k (doc_id, score) of a ``match``, planned by the query's total
    postings (the sum of its terms' dfs, free on a warmed index): below
    ``FLAT_TOPK_MAX_POSTINGS`` the JVM-only flat ``bm25_match`` serves
    it, with no Python worker; at or above it, ``wand_match`` does. Both
    rank identically."""
    from gopensearch_spark.analysis import normalize_query_terms
    from gopensearch_spark.search.readers import term_dfs

    dfs = term_dfs(spark, index_dir, sorted(set(normalize_query_terms(query))))
    if sum(dfs.values()) < FLAT_TOPK_MAX_POSTINGS:
        return bm25_match(spark, index_dir, query, k=k, mode=mode)
    return wand_match(spark, index_dir, query, k=k, mode=mode)
