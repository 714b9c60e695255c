"""ES span queries: `span_near` over `span_term` clauses (ordered and
unordered proximity with an explicit slop), on the positional index.

Matching contract (this engine's pinned semantics):

- in_order=true: a doc matches when some occurrence p1 of clause 1 has a
  GREEDY forward chain — p2 = the first occurrence of clause 2 after p1,
  p3 = the first occurrence of clause 3 after p2, ... — whose total gap
  `p_k - p1 - (k-1)` is <= slop. tf = the number of such valid start
  positions. With slop=0 and two clauses this is EXACTLY the phrase
  contract (tf = adjacent-pair count), pinned rank-identical to
  phrase_match/FTS5 in tests.
- in_order=false (two clauses): p1 matches when the NEAREST occurrence
  of the other clause (either direction) is within slop, i.e.
  min(|p2 - p1|) - 1 <= slop; tf counts clause-1 occurrences with a
  partner in window.

Scoring is the engine-wide phrase shape: BM25 with the span tf and
df = number of matching docs (one span unit). Lucene weights sloppy
matches by 1/(distance+1) inside its phrase freq — a documented
divergence; this contract is exactly replicable in SQL, which is what
the value-exact oracles pin.

Scale: the one positional path of search/phrase.py — the shared
candidate pass (partition-pruned scan of the clause terms; only docs
containing ALL clause terms enter the positions groupBy, so position
bytes of other docs never shuffle) and the one batch-decoding Arrow
kernel, to which span_near supplies only its tf.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gopensearch_spark.search.phrase import (
    _candidates,
    _positional_matches,
    _positional_stats,
    _score_topk,
    query_scope,
)


def _ordered_tf(pos_lists: list[np.ndarray], slop: int) -> int:
    """Greedy forward chains from each occurrence of clause 1."""
    tf = 0
    for p1 in pos_lists[0]:
        prev = p1
        ok = True
        for ps in pos_lists[1:]:
            i = np.searchsorted(ps, prev + 1)
            if i >= ps.size:
                ok = False
                break
            prev = ps[i]
        if ok and prev - p1 - (len(pos_lists) - 1) <= slop:
            tf += 1
    return int(tf)


def _unordered_tf(a: np.ndarray, b: np.ndarray, slop: int) -> int:
    """Clause-1 occurrences whose nearest clause-2 occurrence (either
    direction) sits within the slop window."""
    tf = 0
    for p in a:
        i = np.searchsorted(b, p)
        best = None
        if i < b.size:
            best = abs(int(b[i]) - int(p))
        if i > 0:
            d = abs(int(p) - int(b[i - 1]))
            best = d if best is None else min(best, d)
        if best is not None and best - 1 <= slop:
            tf += 1
    return tf


def span_near_match(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    k: int | None = 10,
) -> DataFrame:
    """Top-k (or unordered relation with k=None) for span_near over
    span_term clauses on the indexed text field."""
    with query_scope():
        return _span_near_match(spark, index_dir, terms, slop, in_order, k)


def _span_near_match(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    slop: int,
    in_order: bool,
    k: int | None,
) -> DataFrame:
    if len(terms) < 2:
        raise ValueError("span_near needs at least two clauses")
    if not in_order and len(terms) != 2:
        raise ValueError("unordered span_near supports exactly two clauses")
    stats = _positional_stats(index_dir)

    def tf_of(pos):
        lists = [pos[t] for t in terms]
        return (_ordered_tf(lists, slop) if in_order else _unordered_tf(*lists, slop),)

    grouped = _candidates(spark, index_dir, stats, sorted(set(terms)))
    return _score_topk(_positional_matches(grouped, tf_of), stats, k)
