"""Cached index-table readers.

Every query used to call `spark.read.parquet(...)` afresh, re-listing
files and re-reading footers — pure latency on repeated queries against
the same index. Reusing one DataFrame handle per (session, index_dir,
table) keeps Spark's FileIndex/schema cache warm; the plan on top is
rebuilt per query as usual, so correctness is unaffected.

The index's manifest (``index/builder.py`` ``read_manifest``) is the
one version record. Every cache here is keyed on (session, index_dir)
and its entry stores the manifest version it was filled under; a call
that reads another version replaces the entry. So a commit by any
writer, in this process or another (a rebuild copied over the
directory), is seen by the next query with nothing to invalidate.
"""

from __future__ import annotations

import bisect
import os

from pyspark.sql import DataFrame, SparkSession

from gopensearch_spark.index.builder import (
    read_corpus_stats as corpus_stats,  # noqa: F401  (re-exported)
    read_manifest,
    resolve_index_dir,
)

# a cold term -> df map that would grow past this many terms starts
# afresh (about 13 MB at ~130 bytes a term); a complete map is never cut
_COLD_TERM_DFS_MAX = 100_000


class TermDfs(dict):
    """term -> df memo of one index version. A ``complete`` map holds
    every indexed term (``warm_index`` loads it), so any other term is
    known to be absent: it is "in" the map with df 0."""

    def __init__(self, items=(), complete: bool = False, version: str | None = None):
        super().__init__(items)
        self.complete = complete
        self.version = version
        self._sorted: list[str] | None = None

    def sorted_terms(self) -> list[str]:
        """The terms of the map (df > 0), sorted; built once."""
        if self._sorted is None:
            self._sorted = sorted(t for t, d in dict.items(self) if d > 0)
        return self._sorted

    def with_prefix(self, prefix: str) -> list[str]:
        """The terms of the map (df > 0) that start with ``prefix``,
        sorted. Only a complete map holds them all."""
        keys = self.sorted_terms()
        lo = hi = bisect.bisect_left(keys, prefix)
        while hi < len(keys) and keys[hi].startswith(prefix):
            hi += 1
        return keys[lo:hi]

    def __contains__(self, term) -> bool:
        return self.complete or dict.__contains__(self, term)

    def __missing__(self, term) -> int:
        if self.complete:
            return 0
        raise KeyError(term)


class _Tables(dict):
    """table name -> DataFrame handle of one index version."""

    def __init__(self, version: str):
        super().__init__()
        self.version = version


_DF_CACHE: dict[tuple[int, str], _Tables] = {}
_TERM_DF_CACHE: dict[tuple[int, str], TermDfs] = {}


def _entry(cache: dict, spark: SparkSession, index_dir: str, version: str, make):
    """``cache``'s entry for (session, index_dir), replaced by
    ``make(version)`` when it was filled under another version."""
    key = (id(spark), index_dir)
    hit = cache.get(key)
    if hit is None or hit.version != version:
        hit = cache[key] = make(version)
    return hit


def warm_index(spark: SparkSession, index_dir: str) -> TermDfs:
    """Pin the index's full term -> df map on the driver — the
    serving posture for a HOT index.

    One Arrow collect (see ``_load_term_dfs``) loads every term, so
    ``term_dfs`` then answers any query term with no Spark job, and a
    warm ``match`` runs with no df lookup and no Python worker. Its
    sorted term list (``warm_prefix_terms``) is built here too, so no
    query pays for it. The map costs
    driver memory in proportion to the vocabulary (about 130 bytes a
    term in CPython, ~13 MB for 100k terms, plus the pandas frame while
    it is collected), so an index whose vocabulary does not fit the
    driver must not be warmed. Nothing is persisted on the executors.
    The next commit to the index replaces the map with a cold one."""
    key = (id(spark), index_dir)
    dfs = _TERM_DF_CACHE.get(key)
    if dfs is None or not dfs.complete or dfs.version != read_manifest(index_dir)["version"]:
        dfs = _TERM_DF_CACHE[key] = _load_term_dfs(spark, index_dir)
        dfs.sorted_terms()  # prefix expansion's view, built here, not by the first query
    return dfs


def warm_prefix_terms(spark: SparkSession, index_dir: str, prefix: str) -> list[str] | None:
    """The indexed terms that start with ``prefix``, sorted, read from
    the complete term -> df map of a warm index (``warm_index``) with no
    Spark job. ``None`` when the index is not warm: callers then ask the
    term dictionary."""
    dfs = _TERM_DF_CACHE.get((id(spark), index_dir))
    if dfs is None or not dfs.complete or dfs.version != read_manifest(index_dir)["version"]:
        return None
    return dfs.with_prefix(prefix)


def index_table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    """`postings` / `term_stats` / `doc_stats` reader, memoized per
    manifest version."""
    version = read_manifest(index_dir)["version"]
    tables = _entry(_DF_CACHE, spark, index_dir, version, _Tables)
    if name not in tables:
        tables[name] = spark.read.parquet(os.path.join(resolve_index_dir(index_dir), name))
    return tables[name]


def term_dict(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The sorted (term, df) dictionary, or ``None`` when it is stale.

    Both builds and every streaming micro-batch rebuild the dict and
    commit the corpus n_docs it was built against. Postings newer than
    the dict (a raw build_postings append without finalize, a crash
    between the stats fold and the dict rebuild) show as a mismatch with
    the committed n_docs; callers then fall back to a slower plan — a
    stale dict must never silently drop matching terms."""
    manifest = read_manifest(index_dir)
    if manifest.get("term_dict_n_docs") != manifest["n_docs"]:
        return None
    return index_table(spark, index_dir, "term_dict")


def _load_term_dfs(spark: SparkSession, index_dir: str) -> TermDfs:
    """The complete term -> df map: the term_stats delta rows summed by
    term (what ``term_dfs`` computes per term), collected through
    Arrow."""
    from pyspark.sql import functions as F

    version = read_manifest(index_dir)["version"]
    pdf = (
        index_table(spark, index_dir, "term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .toPandas()
    )
    return TermDfs(zip(pdf["term"].tolist(), pdf["df"].astype("int64").tolist()),
                   complete=True, version=version)


def term_dfs(spark: SparkSession, index_dir: str, terms: list[str]) -> dict[str, int]:
    """term -> document frequency (delta rows summed on a streaming
    index), memoized per (session, index_dir) for the committed manifest
    version. A warmed index holds the complete map and never launches a
    job; otherwise missing terms cost one metrics-sized lookup job, and
    absent terms cache as 0 (callers drop them). A cold map that would
    pass ``_COLD_TERM_DFS_MAX`` terms starts afresh, so a stream of
    distinct query terms cannot grow driver memory without bound."""
    manifest = read_manifest(index_dir)
    key = (id(spark), index_dir)
    cache = _entry(_TERM_DF_CACHE, spark, index_dir, manifest["version"],
                   lambda v: TermDfs(version=v))
    uniq = set(terms)
    dfs = {t: cache[t] for t in uniq if t in cache}
    missing = sorted(uniq - dfs.keys())
    if missing:
        from pyspark.sql import functions as F

        from gopensearch_spark.search.bm25 import term_buckets_for

        buckets = sorted(set(term_buckets_for(spark, missing, manifest["term_buckets"]).values()))
        found = dict.fromkeys(missing, 0)
        for r in (
            index_table(spark, index_dir, "term_stats")
            .where(F.col("term_bucket").isin(buckets) & F.col("term").isin(missing))
            .select("term", "df")
            .collect()
        ):
            found[r["term"]] += r["df"]
        dfs.update(found)
        if len(cache) + len(found) > _COLD_TERM_DFS_MAX:
            cache = _TERM_DF_CACHE[key] = TermDfs(version=cache.version)
        if len(found) <= _COLD_TERM_DFS_MAX:
            cache.update(found)
    return dfs


def invalidate(index_dir: str | None = None) -> None:
    """Drop cached handles (all, or one index) to free driver memory.
    Never needed for correctness: a commit changes the manifest version,
    which replaces every entry filled under the old one."""
    for cache in (_DF_CACHE, _TERM_DF_CACHE):
        for k in [k for k in cache if index_dir is None or k[1] == index_dir]:
            del cache[k]
