"""Driver-side reader caches: the warm term -> df map, its bound, and
the manifest version that keeps every cached handle fresh."""

import math
import os
import shutil

import pytest

from gopensearch_spark.search import bm25_match, warm_index
from gopensearch_spark.search import readers
from gopensearch_spark.search.readers import invalidate, term_dfs


def _jobs_during(spark, fn):
    """(fn's result, the Spark job ids it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup("readers-test", "jobs launched by one call")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup("readers-test"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_warm_index_answers_term_dfs_without_jobs(spark, index_small):
    """After warm_index, term_dfs answers present and absent terms from
    the driver-side map, launching no job; invalidate drops the map."""
    invalidate(index_small)
    cold = term_dfs(spark, index_small, ["spark", "join", "zzzabsentzzz"])
    invalidate(index_small)
    warm_index(spark, index_small)
    try:
        got, jobs = _jobs_during(
            spark, lambda: term_dfs(spark, index_small, ["spark", "join", "zzzabsentzzz"]))
        assert got == cold and got["zzzabsentzzz"] == 0 and got["spark"] > 0
        assert jobs == []
    finally:
        invalidate(index_small)
    assert not any(k[1].startswith(index_small) for k in readers._TERM_DF_CACHE)


def test_warm_term_df_map_equals_fts5_vocab(spark, index_small, oracle_small):
    """The warm map is complete: exactly FTS5's vocabulary dfs."""
    full = readers._load_term_dfs(spark, index_small)
    assert full.complete
    assert dict(full) == {t: df for t, df, _ in oracle_small.vocab()}


def test_rebuild_without_invalidate_serves_new_dfs(spark, tmp_path):
    """Copying another index's files over a queried one (a rebuild no
    invalidate call saw) must not serve the first index's idfs."""
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index import build_index

    a_docs = [(1, "apple banana"), (2, "apple cherry"), (3, "banana split")]
    b_docs = [(1, "apple"), (2, "apple pie"), (3, "apple banana"), (4, "kiwi"),
              (5, "kiwi banana")]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for out, docs in [(a, a_docs), (b, b_docs)]:
        build_index(spark, spark.createDataFrame(docs, "doc_id long, text string"), out)
    first = bm25_match(spark, a, "apple banana", k=10, mode="or").collect()
    assert term_dfs(spark, a, ["apple"]) == {"apple": 2}

    shutil.rmtree(a)
    shutil.copytree(b, a)
    assert term_dfs(spark, a, ["apple"]) == {"apple": 3}
    got = [(int(r.doc_id), float(r.score))
           for r in bm25_match(spark, a, "apple banana", k=10, mode="or").collect()]
    oracle = Fts5Oracle()
    oracle.load(b_docs)
    ref = oracle.match(["apple", "banana"], k=10, mode="or")
    oracle.close()
    assert [d for d, _ in got] == [d for d, _ in ref]
    assert all(abs(s1 - s2) < 1e-9 for (_, s1), (_, s2) in zip(got, ref))
    assert got != [(int(r.doc_id), float(r.score)) for r in first]
    invalidate(a)


def test_stream_merge_stream_seen_without_invalidate(spark, docs_small, tmp_path):
    """A streamed batch, a force_merge, then another batch, with no
    invalidate call anywhere: each step is seen by the next term_dfs and
    bm25_match, equal to FTS5 over the union, and the term -> df cache
    holds exactly one entry for (session, index root) throughout."""
    from gopensearch_spark.dsl import Engine
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox, idx, cp = (str(tmp_path / d) for d in ("inbox", "idx", "cp"))
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(80), copies=1).cache()
    waves = [pages.where(f"pmod(xxhash64(url), 2) = {w}") for w in (0, 1)]
    e = Engine(spark)
    e.create_index("d", prepare_corpus(pages), text_field="text", index_dir=idx)
    terms = ["spark", "join", "data"]
    rows, waves_left = [], iter(waves)

    def check():
        o = Fts5Oracle()
        o.load([(int(r.doc_id), r.text) for r in rows])
        vocab = {t: df for t, df, _ in o.vocab()}
        assert term_dfs(spark, idx, terms) == {t: vocab.get(t, 0) for t in terms}
        for mode in ("or", "and"):
            got = [(int(r.doc_id), float(r.score))
                   for r in bm25_match(spark, idx, terms[:2], k=15, mode=mode).collect()]
            ref = o.match(terms[:2], k=15, mode=mode)
            assert [d for d, _ in got] == [d for d, _ in ref]
            assert all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                       for (_, a), (_, b) in zip(got, ref))
        o.close()
        assert [k for k in readers._TERM_DF_CACHE if k[1].startswith(idx)] == [(id(spark), idx)]

    for step in ("stream", "force_merge", "stream"):
        if step == "stream":
            wave = next(waves_left)
            wave.coalesce(1).write.mode("append").parquet(inbox)
            index_stream_available_now(spark, inbox, idx, cp)
            rows.extend(prepare_corpus(wave).select("doc_id", "text").collect())
        else:
            e.force_merge("d")
        check()
    pages.unpersist()


def test_cold_term_df_map_is_bounded(spark, index_small, monkeypatch):
    """A run of distinct absent terms leaves a cold map at or below the
    bound with unchanged answers; a complete (warm) map is never cut."""
    invalidate(index_small)
    monkeypatch.setattr(readers, "_COLD_TERM_DFS_MAX", 5)
    key = (id(spark), index_small)
    spark_df = term_dfs(spark, index_small, ["spark"])["spark"]
    assert spark_df > 0
    try:
        for i in range(4):
            absent = [f"zzabsent{i}x{j}" for j in range(3)]
            got = term_dfs(spark, index_small, absent + ["spark"])
            assert got == {**dict.fromkeys(absent, 0), "spark": spark_df}
            assert len(readers._TERM_DF_CACHE[key]) <= 5
        warm = warm_index(spark, index_small)
        n = len(warm)
        assert n > 5
        got = term_dfs(spark, index_small, [f"zzwarm{j}" for j in range(8)] + ["spark"])
        assert got["spark"] == spark_df and sum(got.values()) == spark_df
        assert readers._TERM_DF_CACHE[key] is warm and len(warm) == n
    finally:
        invalidate(index_small)


def test_pre_manifest_index_fails_loudly(spark, tmp_path):
    """An index written before the manifest layout (tables and a stats
    file at the root, no _current) raises a ValueError that names the
    directory and says to rebuild it."""
    from gopensearch_spark.search.readers import corpus_stats

    old = str(tmp_path / "old")
    os.makedirs(os.path.join(old, "postings", "batch_id=-1"))
    with open(os.path.join(old, "corpus_stats.json"), "w") as f:
        f.write('{"n_docs": 1, "avg_doc_len": 1.0, "total_tokens": 1, '
                '"term_buckets": 4, "with_positions": false}')
    for read in (lambda: corpus_stats(old), lambda: term_dfs(spark, old, ["a"]),
                 lambda: bm25_match(spark, old, "a", k=1)):
        with pytest.raises(ValueError, match="rebuild it") as err:
            read()
        assert old in str(err.value)
    with pytest.raises(FileNotFoundError):
        term_dfs(spark, str(tmp_path / "never_built"), ["a"])
