"""Document-management APIs: _delete_by_query, _update_by_query,
_reindex. ES semantics over both index kinds (DataFrame-backed and
doc-backed); queries run through the SAME compile path as _search
(full-text clauses included, wrapped in filter context)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def events(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))


@pytest.fixture()
def engine(spark, events):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("events", events, json_col="props", id_col="event_id")
    return e


def test_delete_by_query_removes_matches(engine, events):
    n_err = events.where(F.col("event_type") == "error").count()
    total = events.count()
    r = engine.delete_by_query(
        "events", {"query": {"term": {"event_type": "error"}}}
    )
    assert r["deleted"] == n_err > 0
    assert engine.count("events")["count"] == total - n_err
    out = engine.search(
        "events", {"query": {"term": {"event_type": "error"}}, "size": 5}
    )
    assert out["hits"]["hits"] == []


def test_delete_by_query_match_all_default(engine):
    r = engine.delete_by_query("events")
    assert engine.count("events")["count"] == 0
    assert r["deleted"] > 0


def test_update_by_query_script(spark, events):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("ev", events, id_col="event_id")
    old_max = events.agg(F.max("value")).head()[0]
    r = e.update_by_query("ev", {
        "query": {"range": {"value": {"gte": 0}}},
        "script": {"source": "ctx._source.value = ctx._source.value * 2"},
    })
    assert r["updated"] == events.where(F.col("value") >= 0).count()
    new_max = e.indices["ev"].df.agg(F.max("value")).head()[0]
    assert new_max == pytest.approx(2 * old_max)


def test_update_by_query_only_touches_matches(spark, events):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("ev", events, id_col="event_id")
    e.update_by_query("ev", {
        "query": {"term": {"event_type": "click"}},
        "script": "ctx._source.value = 0",
    })
    df = e.indices["ev"].df
    assert df.where((F.col("event_type") == "click") & (F.col("value") != 0)).count() == 0
    # non-matching rows keep their original values
    orig = events.where(F.col("event_type") != "click").agg(
        F.sum("value")).head()[0]
    kept = df.where(F.col("event_type") != "click").agg(
        F.sum("value")).head()[0]
    assert kept == pytest.approx(orig)


def test_update_by_query_bad_script(engine):
    with pytest.raises(ValueError, match="update_by_query script"):
        engine.update_by_query("events", {"script": "not an assignment"})


def test_reindex_filtered_copy(engine, events):
    n = events.where(F.col("event_type") == "click").count()
    r = engine.reindex({
        "source": {"index": "events",
                   "query": {"term": {"event_type": "click"}}},
        "dest": {"index": "clicks"},
    })
    assert r["created"] == n
    assert engine.count("clicks")["count"] == n
    # dest is queryable with the source's metadata (json_col carried)
    out = engine.search("clicks", {"size": 1})
    assert len(out["hits"]["hits"]) == 1
    with pytest.raises(ValueError, match="already exists"):
        engine.reindex({"source": {"index": "events"},
                        "dest": {"index": "clicks"}})


def test_doc_backed_delete_and_reindex(spark):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.index_document("d", {"a": 1, "k": "x"})
    e.index_document("d", {"a": 2, "k": "y"})
    e.index_document("d", {"a": 3, "k": "x"})
    r = e.delete_by_query("d", {"query": {"term": {"k": "x"}}})
    assert r["deleted"] == 2
    assert e.count("d")["count"] == 1
    r2 = e.reindex({"source": {"index": "d"}, "dest": {"index": "d2"}})
    assert r2["created"] == 1
    assert e.count("d2")["count"] == 1
    # doc-backed update is rejected with a clear contract error
    with pytest.raises(ValueError, match="DataFrame-backed"):
        e.update_by_query("d", {"script": "ctx._source.a = 1"})


def test_delete_by_fulltext_match(spark, docs_small, index_small):
    """delete_by_query with a full-text `match` clause routes through
    the BM25 relation exactly like _search."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, id_col="doc_id",
                   text_field="text", index_dir=index_small)
    n = e.search("docs", {
        "query": {"match": {"text": "spark"}},
        "size": 0, "track_total_hits": True,
    })["hits"]["total"]["value"]
    r = e.delete_by_query("docs", {"query": {"match": {"text": "spark"}}})
    assert r["deleted"] == n > 0
    out = e.search("docs", {"query": {"match": {"text": "spark"}}, "size": 3})
    assert out["hits"]["hits"] == []


def test_pure_match_after_delete_skips_deleted_docs(spark, docs_small, index_small):
    """Deleting a match's top hits leaves the index untouched, so a bare
    `match` must not take its top-k from the index: the same request
    returns the next hits and a total without the deleted docs, exactly
    as its `bool.must` form does."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, id_col="doc_id",
                   text_field="text", index_dir=index_small)
    body = {"query": {"match": {"text": "spark"}}, "size": 6, "track_total_hits": True}
    before = e.search("docs", body)
    n = before["hits"]["total"]["value"]
    ids = [int(h["_id"]) for h in before["hits"]["hits"]]
    r = e.delete_by_query("docs", {"query": {"terms": {"doc_id": ids[:3]}}})
    assert r["deleted"] == 3
    body["size"] = 3
    after = e.search("docs", body)
    assert after["hits"]["total"]["value"] == n - 3
    assert [int(h["_id"]) for h in after["hits"]["hits"]] == ids[3:]
    must = e.search("docs", {**body, "query": {"bool": {"must": [body["query"]]}}})
    assert must["hits"] == after["hits"]


def test_index_exists_and_delete(spark, events):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("ev", events, id_col="event_id")
    e.update_aliases({"actions": [
        {"add": {"index": "ev", "alias": "ev_alias"}}]})
    assert e.index_exists("ev") and e.index_exists("ev_alias")
    assert not e.index_exists("nope")
    with pytest.raises(ValueError, match="alias"):
        e.delete_index("ev_alias")
    r = e.delete_index("ev")
    assert r == {"acknowledged": True}
    assert not e.index_exists("ev")
    # the alias lost its only target and disappeared with it
    assert not e.index_exists("ev_alias")
    with pytest.raises(KeyError):
        e.delete_index("ev")


def test_delete_index_drops_live_scrolls(spark):
    """delete_index must invalidate scroll cursors bound to the index:
    a continuation fails like ES's search_context_missing instead of
    KeyError / silently reading a recreated index (r6 ADVICE fix)."""
    import pytest
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    df = spark.createDataFrame([(i, float(i)) for i in range(30)], "id long, v double")
    e.create_index("sc", df, id_col="id")
    r = e.scroll_search("sc", {"query": {"range": {"v": {"gte": 0}}}, "size": 5})
    sid = r["_scroll_id"]
    e.delete_index("sc")
    with pytest.raises(ValueError, match="unknown or cleared"):
        e.scroll(sid)
