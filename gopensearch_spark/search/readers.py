"""Cached index-table readers.

Every query used to call `spark.read.parquet(...)` afresh, re-listing
files and re-reading footers — pure latency on repeated queries against
the same index. Reusing one DataFrame handle per (session, index_dir,
table) keeps Spark's FileIndex/schema cache warm; the plan on top is
rebuilt per query as usual, so correctness is unaffected. Corpus stats
(a tiny driver-side JSON) are memoized with an mtime guard, and that
guard is the index's version: when ``corpus_stats.json`` changes under
a cached entry (a rebuild by another process that never called
``invalidate`` here), every cached handle on that directory is dropped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gopensearch_spark.index.builder import read_corpus_stats, resolve_index_dir


class TermDfs(dict):
    """term -> df memo of one index version. A ``complete`` map holds
    every indexed term (``warm_index`` loads it), so any other term is
    known to be absent: it is "in" the map with df 0."""

    def __init__(self, items=(), complete: bool = False):
        super().__init__(items)
        self.complete = complete

    def __contains__(self, term) -> bool:
        return self.complete or dict.__contains__(self, term)

    def __missing__(self, term) -> int:
        if self.complete:
            return 0
        raise KeyError(term)


# every cache below is keyed on the RESOLVED generation dir
_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_STATS_CACHE: dict[str, tuple[int, dict]] = {}
_TERM_DF_CACHE: dict[tuple[int, str], TermDfs] = {}


def warm_index(spark: SparkSession, index_dir: str) -> TermDfs:
    """Pin the index's full term -> df map on the driver — the
    serving posture for a HOT index.

    One Arrow collect (see ``_load_term_dfs``) loads every term, so
    ``term_dfs`` then answers any query term with no Spark job, and a
    warm ``match`` runs with no df lookup and no Python worker. The map costs
    driver memory in proportion to the vocabulary (about 130 bytes a
    term in CPython, ~13 MB for 100k terms, plus the pandas frame while
    it is collected), so an index whose vocabulary does not fit the
    driver must not be warmed. Nothing is persisted on the executors.
    Writers invalidate() the map like every other handle."""
    corpus_stats(index_dir)  # version check: drops warm state of an older version
    key = (id(spark), resolve_index_dir(index_dir))
    if not _TERM_DF_CACHE.get(key, TermDfs()).complete:
        _TERM_DF_CACHE[key] = _load_term_dfs(spark, index_dir)
    return _TERM_DF_CACHE[key]


def index_table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    """`postings` / `term_stats` / `doc_stats` reader, memoized.

    Cache keys hold the RESOLVED generation dir, so a pointer flip
    (rename-free compaction) naturally misses the stale handle even
    before ``invalidate`` runs."""
    key = (id(spark), resolve_index_dir(index_dir), name)
    df = _DF_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(key[1], name))
        _DF_CACHE[key] = df
    return df


def corpus_stats(index_dir: str) -> dict:
    """The index's corpus stats, memoized on the file's mtime. A changed
    mtime under a cached entry means the directory was rewritten without
    ``invalidate`` (e.g. by another process): every cached handle and df
    map on it is stale and is dropped here. Query entry
    points read the stats before any other cache, so this is the one
    version check they need."""
    resolved = resolve_index_dir(index_dir)
    path = os.path.join(resolved, "corpus_stats.json")
    mtime = os.stat(path).st_mtime_ns
    hit = _STATS_CACHE.get(resolved)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    if hit is not None:
        invalidate(resolved)
    stats = read_corpus_stats(index_dir)
    _STATS_CACHE[resolved] = (mtime, stats)
    return stats


def _load_term_dfs(spark: SparkSession, index_dir: str) -> TermDfs:
    """The complete term -> df map: the term_stats delta rows summed by
    term (what ``term_dfs`` computes per term), collected through
    Arrow."""
    from pyspark.sql import functions as F

    pdf = (
        index_table(spark, index_dir, "term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .toPandas()
    )
    return TermDfs(zip(pdf["term"].tolist(), pdf["df"].astype("int64").tolist()),
                   complete=True)


def term_dfs(spark: SparkSession, index_dir: str, terms: list[str]) -> dict[str, int]:
    """term -> document frequency (delta rows summed on a streaming
    index), memoized per (session, resolved index dir) and dropped when
    the index's corpus_stats version changes. A warmed index holds the
    complete map and never launches a job; otherwise missing terms cost
    one metrics-sized lookup job, and absent terms cache as 0 (callers
    drop them). All index writers call ``invalidate``, which clears this
    cache alongside the DataFrame handles."""
    stats = corpus_stats(index_dir)  # the version check runs first
    key = (id(spark), resolve_index_dir(index_dir))
    cache = _TERM_DF_CACHE.setdefault(key, TermDfs())
    missing = sorted(t for t in set(terms) if t not in cache)
    if missing:
        from pyspark.sql import functions as F

        from gopensearch_spark.search.bm25 import term_buckets_for

        buckets = sorted(set(term_buckets_for(spark, missing, stats["term_buckets"]).values()))
        found: dict[str, int] = {}
        for r in (
            index_table(spark, index_dir, "term_stats")
            .where(F.col("term_bucket").isin(buckets) & F.col("term").isin(missing))
            .select("term", "df")
            .collect()
        ):
            found[r["term"]] = found.get(r["term"], 0) + r["df"]
        for t in missing:
            cache[t] = found.get(t, 0)
    return {t: cache[t] for t in set(terms)}


def invalidate(index_dir: str | None = None) -> None:
    """Drop cached handles (all, or one index) — call after a rebuild.
    Prefix-matched: cache keys may hold generation subdirs of the index
    (``<dir>/gen-N``), which must invalidate with their root."""
    global _DF_CACHE, _STATS_CACHE, _TERM_DF_CACHE
    if index_dir is None:
        _DF_CACHE, _STATS_CACHE, _TERM_DF_CACHE = {}, {}, {}
        return

    def _keep(path: str) -> bool:
        return path != index_dir and not path.startswith(index_dir.rstrip(os.sep) + os.sep)

    _DF_CACHE = {k: v for k, v in _DF_CACHE.items() if _keep(k[1])}
    _STATS_CACHE = {k: v for k, v in _STATS_CACHE.items() if _keep(k)}
    _TERM_DF_CACHE = {k: v for k, v in _TERM_DF_CACHE.items() if _keep(k[1])}
