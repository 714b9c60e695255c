"""Driver-side reader caches: the warm term -> df map and the
corpus_stats version check that keeps every cached handle fresh."""

import shutil

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
