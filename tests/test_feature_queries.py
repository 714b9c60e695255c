"""rank_feature / distance_feature / match_bool_prefix queries.

rank_feature and distance_feature are score-only clauses (membership =
field present) whose score is pure Catalyst arithmetic riding the same
"const" scoring-entry machinery as constant_score; match_bool_prefix
decomposes at parse time into its documented bool equivalent."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))


@pytest.fixture(scope="module")
def fengine(spark, events):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("ev", events, id_col="event_id")
    return e


def _value_of(events, event_id: int) -> float:
    return events.where(F.col("event_id") == event_id).head()["value"]


def test_rank_feature_saturation(fengine, events):
    out = fengine.search("ev", {
        "query": {"rank_feature": {"field": "value", "boost": 2.0,
                                   "saturation": {"pivot": 100.0}}},
        "size": 3,
    })
    top = out["hits"]["hits"][0]
    v = _value_of(events, int(top["_id"]))
    assert top["_score"] == pytest.approx(2.0 * v / (v + 100.0), rel=1e-12)
    # saturation is monotone: the top hit is the max-value doc
    mx = events.orderBy(F.desc("value"), F.asc("event_id")).head()
    assert int(top["_id"]) == mx["event_id"]


def test_rank_feature_log_and_sigmoid(fengine, events):
    log_hit = fengine.search("ev", {
        "query": {"rank_feature": {"field": "value",
                                   "log": {"scaling_factor": 4.0}}},
        "size": 1,
    })["hits"]["hits"][0]
    v = _value_of(events, int(log_hit["_id"]))
    assert log_hit["_score"] == pytest.approx(math.log(4.0 + v), rel=1e-12)
    sig_hit = fengine.search("ev", {
        "query": {"rank_feature": {"field": "value",
                                   "sigmoid": {"pivot": 50.0, "exponent": 2.0}}},
        "size": 1,
    })["hits"]["hits"][0]
    v = _value_of(events, int(sig_hit["_id"]))
    assert sig_hit["_score"] == pytest.approx(v**2 / (v**2 + 50.0**2), rel=1e-12)


def test_rank_feature_requires_pivot(fengine):
    with pytest.raises(ValueError, match="explicit pivot"):
        fengine.search("ev", {
            "query": {"rank_feature": {"field": "value"}}, "size": 1,
        })


def test_distance_feature_score_and_order(fengine, events):
    out = fengine.search("ev", {
        "query": {"distance_feature": {"field": "value", "origin": 200,
                                       "pivot": 10, "boost": 3.0}},
        "size": 5,
    })
    hits = out["hits"]["hits"]
    for h in hits:
        v = _value_of(events, int(h["_id"]))
        assert h["_score"] == pytest.approx(
            3.0 * 10 / (10 + abs(v - 200)), rel=1e-12)
    # descending score == ascending distance from the origin
    assert [h["_score"] for h in hits] == sorted(
        (h["_score"] for h in hits), reverse=True)


def test_distance_feature_duration_and_date_forms():
    from gopensearch_spark.dsl.model import _time_scalar

    assert _time_scalar("7d", "pivot") == 7 * 86_400_000
    assert _time_scalar("500ms", "pivot") == 500
    assert _time_scalar("2026-01-01T00:00:00Z", "origin") == 1767225600000.0
    with pytest.raises(ValueError, match="unparseable"):
        _time_scalar("next tuesday", "origin")


def test_feature_query_in_bool_is_score_additive(fengine):
    out = fengine.search("ev", {
        "query": {"bool": {
            "must": [{"term": {"event_type": "click"}}],
            "should": [{"rank_feature": {"field": "value",
                                         "saturation": {"pivot": 50}}}],
        }},
        "size": 3,
    })
    hits = out["hits"]["hits"]
    assert hits and all(h["_source"]["event_type"] == "click" for h in hits)
    assert all(0.0 < h["_score"] < 1.0 for h in hits)


def test_match_bool_prefix_equals_bool_decomposition(spark, docs_small, index_small):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, id_col="doc_id",
                   text_field="text", index_dir=index_small)
    a = e.search("docs", {
        "query": {"match_bool_prefix": {"text": {"query": "spark jo"}}},
        "size": 5, "track_total_hits": True,
    })
    b = e.search("docs", {
        "query": {"bool": {"should": [
            {"match": {"text": "spark"}}, {"prefix": {"text": "jo"}}],
            "minimum_should_match": 1}},
        "size": 5, "track_total_hits": True,
    })
    assert a["hits"]["total"] == b["hits"]["total"]
    assert [(h["_id"], h["_score"]) for h in a["hits"]["hits"]] == \
           [(h["_id"], h["_score"]) for h in b["hits"]["hits"]]


def test_match_bool_prefix_known_clause():
    from gopensearch_spark.dsl.model import unknown_query_clauses

    assert unknown_query_clauses(
        {"match_bool_prefix": {"text": "a b"}}) == []
    assert unknown_query_clauses({"rank_feature": {"field": "v"}}) == []
    assert unknown_query_clauses({"distance_feature": {"field": "v"}}) == []


def test_distance_feature_on_timestamp_column(spark, fengine, events):
    """distance_feature on a native timestamp column must score by
    epoch-millis distance, not silently null out (r6 ADVICE fix)."""
    origin_row = events.orderBy("event_id").head()
    origin_ms = int(origin_row["ts"].timestamp() * 1000)
    out = fengine.search("ev", {
        "query": {"distance_feature": {"field": "ts",
                                       "origin": origin_ms,
                                       "pivot": "1h"}},
        "size": 3,
    })
    hits = out["hits"]["hits"]
    assert hits, "date distance_feature matched nothing"
    assert hits[0]["_score"] > 0.5  # best hit is at/near the origin
    scores = [h["_score"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_distance_feature_on_template_date_string(spark):
    """distance_feature on a template-mapped date field stored as
    RFC3339 STRINGS (the engine's bulk-ingest representation) must
    still compute distances (r6 ADVICE fix)."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.put_template("dd_dates", {
        "index_patterns": "dd*",
        "properties": {"created": {"type": "date", "format": "epoch_millis"}},
    })
    df = spark.createDataFrame(
        [(1, "2024-01-01T00:00:00Z"), (2, "2024-01-01T06:00:00Z"),
         (3, "2024-01-02T00:00:00Z")],
        "id long, created string",
    )
    e.create_index("dd", df, id_col="id")
    origin = 1704067200000  # 2024-01-01T00:00:00Z
    out = e.search("dd", {
        "query": {"distance_feature": {"field": "created",
                                       "origin": origin, "pivot": "12h"}},
        "size": 3,
    })
    hits = out["hits"]["hits"]
    assert [str(h["_id"]) for h in hits] == ["1", "2", "3"]
    assert math.isclose(hits[0]["_score"], 1.0, rel_tol=1e-9)


def test_distance_feature_on_iso_date_template_field(spark):
    """A template date field whose format is not an epoch format
    (strict_date_optional_time) stores date strings; distance_feature
    must still rank by distance instead of matching nothing."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.put_template("iso_dates", {
        "index_patterns": "iso*",
        "properties": {"created": {"type": "date",
                                   "format": "strict_date_optional_time"}},
    })
    df = spark.createDataFrame(
        [(1, "2024-01-03T00:00:00Z"), (2, "2024-01-01T06:00:00Z"),
         (3, "2024-01-01T00:00:00Z")],
        "id long, created string",
    )
    e.create_index("iso", df, id_col="id")
    out = e.search("iso", {
        "query": {"distance_feature": {"field": "created",
                                       "origin": "2024-01-01T00:00:00Z",
                                       "pivot": "12h"}},
        "size": 3,
    })
    hits = out["hits"]["hits"]
    assert [str(h["_id"]) for h in hits] == ["3", "2", "1"]
    assert math.isclose(hits[0]["_score"], 1.0, rel_tol=1e-9)
    assert math.isclose(hits[1]["_score"], 12 / 18, rel_tol=1e-9)


def test_range_on_iso_date_template_field(spark):
    """A range on a strict_date_optional_time template field compares
    instants, not strings: 10:00+02:00 is 08:00Z, before the bound."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.put_template("iso_range", {
        "index_patterns": "isorange*",
        "properties": {"created": {"type": "date",
                                   "format": "strict_date_optional_time"}},
    })
    df = spark.createDataFrame(
        [(1, "2021-03-01T10:00:00+02:00"), (2, "2021-03-01T08:30:00Z"),
         (3, "2021-03-01T08:00:00Z")],
        "id long, created string",
    )
    e.create_index("isorange", df, id_col="id")
    out = e.search("isorange", {
        "query": {"range": {"created": {"gte": "2021-03-01T08:15:00Z"}}},
        "size": 10,
    })
    assert sorted(str(h["_id"]) for h in out["hits"]["hits"]) == ["2"]
