"""Exact `hits.total` from the hits action.

A tracked total is counted by an Observation inside the action that
collects the page, so a request runs one plan, not a second count. These
tests pin the totals against an independent count for every page shape
(each must read every pre-limit row) and pin the Spark jobs per request
on the fixture index.
"""

from __future__ import annotations

import uuid

import pytest


@pytest.fixture(scope="module")
def engine(spark, docs_small, index_small):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small)
    return e


@pytest.fixture(scope="module")
def n_spark(oracle_small):
    """Docs containing `spark`, from FTS5."""
    return len(oracle_small.match(["spark"], k=10**6, mode="or"))


def _total(r: dict) -> int:
    return r["hits"]["total"]["value"]


def _counted(engine, query: dict) -> int:
    """The pre-limit count, through `Engine.count` (a size-0 request:
    counted by its own action, never observed)."""
    return engine.count("docs", {"query": query})["count"]


SPARK = {"match": {"text": "spark"}}


@pytest.mark.parametrize("query", [
    {"match": {"text": "zzqqxxabsent"}},
    {"match": {"text": {"query": "spark zzqqxxabsent", "operator": "and"}}},
    {"bool": {"must": [{"match": {"text": "zzqqxxabsent"}}],
              "filter": [{"term": {"lang": "en"}}]}},
])
def test_absent_terms_total_zero(engine, query):
    r = engine.search("docs", {"query": query, "track_total_hits": True})
    assert _total(r) == 0 and r["hits"]["hits"] == []
    assert _counted(engine, query) == 0


def test_pure_match_total_and_count(engine, n_spark):
    assert n_spark > 10
    r = engine.search("docs", {"query": SPARK, "track_total_hits": True})
    assert _total(r) == n_spark and len(r["hits"]["hits"]) == 10
    assert _counted(engine, SPARK) == n_spark
    r0 = engine.search("docs", {"query": SPARK, "track_total_hits": True, "size": 0})
    assert _total(r0) == n_spark and r0["hits"]["hits"] == []


def test_from_past_total(engine, n_spark):
    for q in (SPARK, {"bool": {"must": [SPARK]}}):
        r = engine.search("docs", {"query": q, "track_total_hits": True,
                                   "from": n_spark + 5, "size": 3})
        assert _total(r) == n_spark and r["hits"]["hits"] == []


def test_filter_only_total_and_id_order(engine, docs_small):
    """An unscored, unsorted tracked page reads every row in id order."""
    from pyspark.sql import functions as F

    q = {"range": {"n_chars": {"gte": 400}}}
    want = [r[0] for r in docs_small.where(F.col("n_chars") >= 400)
            .select("doc_id").orderBy("doc_id").collect()]
    assert len(want) > 5
    r = engine.search("docs", {"query": q, "track_total_hits": True, "size": 5})
    assert _total(r) == len(want) == _counted(engine, q)
    assert [int(h["_id"]) for h in r["hits"]["hits"]] == want[:5]


def test_aggs_with_scored_query_total(engine, n_spark):
    r = engine.search("docs", {
        "query": SPARK, "track_total_hits": True, "size": 3,
        "aggs": {"l": {"terms": {"field": "lang"}}},
    })
    assert _total(r) == n_spark
    assert sum(b["doc_count"] for b in r["aggregations"]["l"]["buckets"]) == n_spark


def test_rescore_and_collapse_totals(engine, n_spark):
    r = engine.search("docs", {
        "query": SPARK, "track_total_hits": True, "size": 5,
        "rescore": {"window_size": 20, "query": {
            "rescore_query": {"match_phrase": {"text": "spark join"}}}},
    })
    assert _total(r) == n_spark and len(r["hits"]["hits"]) == 5
    r = engine.search("docs", {
        "query": SPARK, "track_total_hits": True, "collapse": {"field": "lang"},
    })
    langs = [h["_source"]["lang"] for h in r["hits"]["hits"]]
    assert _total(r) == n_spark and len(langs) == len(set(langs)) > 1


def test_search_after_and_scroll_totals(engine, n_spark):
    first = engine.search("docs", {"query": SPARK, "track_total_hits": True,
                                   "sort": [{"doc_id": "asc"}], "size": 4})
    after = first["hits"]["hits"][-1]["sort"]
    nxt = engine.search("docs", {"query": SPARK, "track_total_hits": True,
                                 "sort": [{"doc_id": "asc"}], "size": 4,
                                 "search_after": after})
    assert _total(first) == _total(nxt) == n_spark
    assert int(nxt["hits"]["hits"][0]["_id"]) > after[0]
    page = engine.scroll_search("docs", {"query": SPARK, "track_total_hits": True,
                                         "size": 4})
    page2 = engine.scroll(page["_scroll_id"])
    assert _total(page) == _total(page2) == n_spark
    engine.clear_scroll(page["_scroll_id"])


def test_msearch_tracked_totals_equal_counts(engine):
    queries = [
        SPARK,
        {"match": {"text": {"query": "spark join", "operator": "and"}}},
        {"match": {"text": "spark join data"}},
        {"bool": {"must": [SPARK], "filter": [{"term": {"lang": "en"}}]}},
    ]
    lines = []
    for q in queries:
        lines += [{"index": "docs"}, {"query": q, "track_total_hits": True, "size": 2}]
    got = [_total(r) for r in engine.msearch(lines)]
    assert got == [_counted(engine, q) for q in queries]
    assert all(n > 0 for n in got)


def test_count_api(engine, n_spark):
    assert engine.count("docs", {"query": SPARK})["count"] == n_spark


# --- Spark jobs per request ---------------------------------------------------

def _jobs(spark, engine, body: dict) -> int:
    """Spark jobs one `Engine.search` runs, after a warm-up request."""
    sc = spark.sparkContext
    engine.search("docs", body)
    group = f"jobs-per-request-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        engine.search("docs", body)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("body,jobs", [
    ({"query": SPARK}, 2),
    ({"query": SPARK, "track_total_hits": True}, 2),
    ({"query": {"bool": {"must": [SPARK], "filter": [{"term": {"lang": "en"}}]}},
      "track_total_hits": True}, 2),
    ({"query": {"match": {"text": "spark join"}}}, 3),
    ({"query": {"match": {"text": "spark join"}}, "track_total_hits": True}, 3),
    ({"query": {"match": {"text": "spark join data"}}}, 3),
])
def test_jobs_per_request(spark, engine, body, jobs):
    """A one-term match reads its postings in the broadcast job and
    pages in the final one; a multi-term match adds the doc_id shuffle.
    A tracked total adds no job."""
    assert _jobs(spark, engine, body) == jobs
