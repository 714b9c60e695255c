"""End-to-end Engine tests: ES DSL in -> ES-shaped response out,
cross-checked against DuckDB on the same parquet (and the FTS5 oracle
for full-text match)."""

import math
import os

import duckdb
import pytest

from gopensearch_spark.dsl import Engine

SF = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["events", "documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def engine(spark, docs_small, index_small):
    e = Engine(spark)
    e.create_index("events", spark.read.parquet(os.path.join(SF, "events.parquet")),
                   json_col="props", id_col="event_id")
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small)
    return e


def test_term_filter(engine, duck):
    r = engine.search("events", '{"query": {"term": {"event_type": "error"}}, "size": 10000}')
    n = duck.execute("SELECT count(*) FROM events WHERE event_type = 'error'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n
    assert all(h["_source"]["event_type"] == "error" for h in r["hits"]["hits"])


def test_default_size_10(engine):
    r = engine.search("events", '{"query": {"term": {"event_type": "error"}}}')
    assert len(r["hits"]["hits"]) == 10  # reference default LIMIT 10 (sql.go:326-332)


def test_range_epoch_millis_on_timestamp(engine, duck):
    lo, hi = 1704067200000, 1704075000000  # 2024-01-01 00:00 .. 02:10 UTC
    body = {"query": {"range": {"ts": {"gte": lo, "lte": hi, "format": "epoch_millis"}}}, "size": 100000}
    r = engine.search("events", body)
    n = duck.execute(
        "SELECT count(*) FROM events WHERE ts >= to_timestamp(?/1000.0) AND ts <= to_timestamp(?/1000.0)",
        [lo, hi],
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_json_field_via_props(engine, duck):
    # field not in schema -> get_json_object(props, '$.k')
    r = engine.search("events", '{"query": {"term": {"k": 87}}, "size": 100000}')
    n = duck.execute("SELECT count(*) FROM events WHERE json_extract_string(props, '$.k') = '87'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_sort_and_size(engine, duck):
    body = {"query": None, "sort": [{"value": {"order": "desc"}}], "size": 5}
    r = engine.search("events", {k: v for k, v in body.items() if v is not None})
    exp = [x[0] for x in duck.execute("SELECT value FROM events ORDER BY value DESC LIMIT 5").fetchall()]
    got = [h["_source"]["value"] for h in r["hits"]["hits"]]
    assert got == exp


def test_bool_must_and_filter(engine, duck):
    body = {
        "query": {"bool": {
            "must": [{"term": {"event_type": "click"}}],
            "filter": [{"range": {"value": {"gte": 100}}}],
        }},
        "size": 100000,
    }
    r = engine.search("events", body)
    n = duck.execute("SELECT count(*) FROM events WHERE event_type='click' AND value >= 100").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_bool_should_is_or(engine, duck):
    body = {"query": {"bool": {"should": [
        {"term": {"event_type": "click"}}, {"term": {"event_type": "signup"}}]}},
        "size": 100000}
    r = engine.search("events", body)
    n = duck.execute("SELECT count(*) FROM events WHERE event_type IN ('click','signup')").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_quirk_should_is_and(spark, duck):
    # reference ANDs should clauses (sql.go:98-109); pin the quirk mode
    e = Engine(spark, compat_quirks=True)
    import os as _os
    e.create_index("events", spark.read.parquet(_os.path.join(SF, "events.parquet")),
                   json_col="props", id_col="event_id")
    body = {"query": {"bool": {"should": [
        {"term": {"event_type": "click"}}, {"term": {"event_type": "signup"}}]}},
        "size": 100000}
    r = e.search("events", body)
    assert r["hits"]["total"]["value"] == 0  # type='click' AND type='signup'


def test_terms_agg_with_size_and_doc_count(engine, duck):
    r = engine.search("events", '{"size": 0, "aggs": {"types": {"terms": {"field": "event_type", "size": 3}}}}')
    exp = duck.execute(
        "SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 3"
    ).fetchall()
    got = [(b["key"], b["doc_count"]) for b in r["aggregations"]["types"]["buckets"]]
    assert got == [(k, int(n)) for k, n in exp]


def test_date_histogram_fixed_interval(engine, duck):
    r = engine.search("events", '{"size": 0, "aggs": {"hist": {"date_histogram": {"field": "ts", "fixed_interval": "1h"}}}}')
    exp = duck.execute(
        "SELECT (epoch_ms(ts) // 3600000) * 3600000 AS k, count(*) FROM events GROUP BY 1 ORDER BY 1"
    ).fetchall()
    got = [(b["key"], b["doc_count"]) for b in r["aggregations"]["hist"]["buckets"]]
    assert got == [(int(k), int(n)) for k, n in exp]


def test_avg_max_metrics(engine, duck):
    r = engine.search("events", '{"size": 0, "aggs": {"a": {"avg": {"field": "value"}}, "m": {"max": {"field": "value"}}}}')
    ea, em = duck.execute("SELECT avg(value), max(value) FROM events").fetchone()
    assert math.isclose(r["aggregations"]["a"]["value"], ea, rel_tol=1e-9)
    assert math.isclose(r["aggregations"]["m"]["value"], em, rel_tol=1e-9)


def test_sub_aggregate_metric_under_terms(engine, duck):
    body = {"size": 0, "aggs": {"types": {"terms": {"field": "event_type", "size": 2},
            "aggs": {"avg_val": {"avg": {"field": "value"}}}}}}
    r = engine.search("events", body)
    exp = duck.execute(
        "SELECT event_type, count(*) c, avg(value) FROM events GROUP BY 1 ORDER BY c DESC, 1 ASC LIMIT 2"
    ).fetchall()
    for b, (k, n, av) in zip(r["aggregations"]["types"]["buckets"], exp):
        assert b["key"] == k and b["doc_count"] == int(n)
        assert math.isclose(b["avg_val"]["value"], av, rel_tol=1e-9)


def test_fulltext_match_through_engine(engine, oracle_small):
    r = engine.search("docs", '{"query": {"match": {"text": "spark join"}}, "size": 10}')
    # default operator OR (ES default); verify scores vs FTS5
    ref = oracle_small.match(["spark", "join"], k=10, mode="or")
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_fulltext_match_operator_and(engine, oracle_small):
    body = {"query": {"match": {"text": {"query": "merge sort batch", "operator": "AND"}}}, "size": 10}
    r = engine.search("docs", body)
    ref = oracle_small.match(["merge", "sort", "batch"], k=10, mode="and")
    assert [int(h["_id"]) for h in r["hits"]["hits"]] == [d for d, _ in ref]


def test_fulltext_match_with_filter(engine, duck, oracle_small):
    # filter context restricts, scoring unchanged (ES filter semantics)
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"term": {"lang": "en"}}]}}, "size": 5}
    r = engine.search("docs", body)
    assert all(h["_source"]["lang"] == "en" for h in r["hits"]["hits"])
    assert len(r["hits"]["hits"]) == 5
    # every hit's score matches the oracle score for that doc
    ref = dict(oracle_small.match(["spark"], k=10000, mode="or"))
    for h in r["hits"]["hits"]:
        assert math.isclose(h["_score"], ref[int(h["_id"])], rel_tol=1e-9)


def test_query_string_glob(engine, duck):
    r = engine.search("events", '{"query": {"query_string": {"query": "err*", "default_field": "event_type"}}, "size": 100000}')
    n = duck.execute("SELECT count(*) FROM events WHERE event_type GLOB 'err*'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_query_string_wildcard_matchall(engine, duck):
    r = engine.search("events", '{"query": {"query_string": {"analyze_wildcard": true, "query": "*"}}, "size": 100000}')
    n = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert r["hits"]["total"]["value"] == n


def test_msearch(engine):
    out = engine.msearch([
        {"index": "events"}, {"query": {"term": {"event_type": "error"}}, "size": 1},
        {"indices": ["events", "other"]}, {"size": 2},
    ])
    assert len(out) == 2
    assert len(out[0]["hits"]["hits"]) == 1
    assert len(out[1]["hits"]["hits"]) == 2


def _hit_scores(resp) -> list[tuple[str, float]]:
    return [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]


def test_msearch_keeps_each_requests_positional_relation(engine):
    """A later msearch request's phrase relation must not release an
    earlier one's before it is collected."""
    from gopensearch_spark.search import phrase

    bodies = [{"query": {"match_phrase": {"text": t}}, "size": 5}
              for t in ("spark join", "merge data")]
    singles, persisted = [], 0
    for b in bodies:
        singles.append(_hit_scores(engine.search("docs", b)))
        persisted += len(phrase._live_persists)
    out = engine.msearch([x for b in bodies for x in ({"index": "docs"}, b)])
    assert [_hit_scores(r) for r in out] == singles
    assert len(phrase._live_persists) == persisted >= 2
    assert all(df.is_cached for df in phrase._live_persists)


@pytest.mark.parametrize("other", [
    {"rank_feature": {"field": "n_chars", "saturation": {"pivot": 200}}},
    {"distance_feature": {"field": "n_chars", "origin": 300, "pivot": 50}},
    {"nested": {"path": "tags", "query": {"term": {"tags.k": "en"}}}},
    {"span_near": {"clauses": [{"span_term": {"text": "spark"}},
                               {"span_term": {"text": "join"}}], "slop": 4}},
    {"boosting": {"positive": {"term": {"lang": "en"}},
                  "negative": {"term": {"source": "src1"}}, "negative_boost": 0.5}},
    {"more_like_this": {"fields": ["text"], "like": ["spark join merge"],
                        "min_term_freq": 1, "min_doc_freq": 1}},
], ids=lambda o: next(iter(o)))
def test_match_beside_another_clause_keeps_both(spark, docs_small, index_small, other):
    """`match` and another clause in one query object AND like their
    `bool.must`; the bare-match top-k must not drop the second clause."""
    from pyspark.sql import functions as F

    e = Engine(spark)
    tagged = docs_small.withColumn("tags", F.array(F.struct(F.col("lang").alias("k"))))
    e.create_index("docs", tagged, text_field="text", index_dir=index_small)
    match = {"match": {"text": "spark"}}
    got = _hit_scores(e.search("docs", {"query": {**match, **other}, "size": 20}))
    exp = _hit_scores(e.search("docs", {"query": {"bool": {"must": [match, other]}},
                                        "size": 20}))
    assert exp and [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp], rel=1e-9)


def test_template_date_mapping(spark):
    e = Engine(spark)
    e.put_template("spans", {
        "index_patterns": "*jaeger-span*",
        "properties": {"startTimeMillis": {"type": "date", "ignore_above": 0, "format": "epoch_millis"}},
    })
    assert e.templates["spans"].matches("jaeger-span-2022-11-11")
    assert not e.templates["spans"].matches("jaeger-service-2022-11-11")
    assert e._date_fields_for("jaeger-span-x") == {"startTimeMillis": "epoch_millis"}


def test_cat_indices(engine):
    s = engine.cat_indices()  # tab-separated like the reference admin.go:60-67
    assert "green\topen\tdocs" in s and "green\topen\tevents" in s


def test_match_phrase_through_engine(engine, oracle_small):
    r = engine.search("docs", '{"query": {"match_phrase": {"text": "spark join"}}, "size": 10}')
    ref = oracle_small.match_raw('"spark join"', k=10)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_numeric_histogram_agg(engine, duck, spark):
    """ES numeric histogram: floor(value/interval)*interval buckets with
    min_doc_count=0 zero-fill between the observed min and max (the ES
    default) — cross-checked against DuckDB, including a value gap."""
    r = engine.search("events", {"size": 0, "aggs": {
        "h": {"histogram": {"field": "value", "interval": 100}}}})
    got = [(b["key"], b["doc_count"]) for b in r["aggregations"]["h"]["buckets"]]
    exp = duck.execute("""
      WITH d AS (SELECT floor(value/100)*100 AS k, count(*) n FROM events GROUP BY 1),
      b AS (SELECT min(k) lo, max(k) hi FROM d),
      a AS (SELECT lo + u*100 AS k FROM b, unnest(range(CAST((hi-lo)/100 AS BIGINT)+1)) t(u))
      SELECT a.k, coalesce(d.n, 0) FROM a LEFT JOIN d USING (k) ORDER BY 1
    """).fetchall()
    assert [(float(k), int(n)) for k, n in exp] == [(float(k), int(n)) for k, n in got]
    # explicit gap: buckets 0 and 300 only -> 100/200 zero-filled
    e2 = Engine(spark)
    e2.create_index("g", spark.createDataFrame(
        [(1, 10.0), (2, 350.0)], "id long, v double"), id_col="id")
    r2 = e2.search("g", {"size": 0, "aggs": {
        "h": {"histogram": {"field": "v", "interval": 100}}}})
    assert [(b["key"], b["doc_count"]) for b in r2["aggregations"]["h"]["buckets"]] == [
        (0.0, 1), (100.0, 0), (200.0, 0), (300.0, 1)]
    # min_doc_count=1 suppresses empties
    r3 = e2.search("g", {"size": 0, "aggs": {
        "h": {"histogram": {"field": "v", "interval": 100, "min_doc_count": 1}}}})
    assert [(b["key"], b["doc_count"]) for b in r3["aggregations"]["h"]["buckets"]] == [
        (0.0, 1), (300.0, 1)]
    # negative keys + non-integral interval: lo/iv = -2.9999999999999996
    # truncates to -2 under a raw long cast, silently DROPPING the
    # populated -2.1 bucket from the zero-filled axis; round() keeps it
    e3 = Engine(spark)
    e3.create_index("neg", spark.createDataFrame(
        [(1, -2.0), (2, 1.4)], "id long, v double"), id_col="id")
    r4 = e3.search("neg", {"size": 0, "aggs": {
        "h": {"histogram": {"field": "v", "interval": 0.7}}}})
    buckets = [(round(b["key"], 6), b["doc_count"]) for b in r4["aggregations"]["h"]["buckets"]]
    assert buckets == [(-2.1, 1), (-1.4, 0), (-0.7, 0), (0.0, 0), (0.7, 0), (1.4, 1)]


def test_match_phrase_slop_through_engine(engine, oracle_small):
    """ES match_phrase slop maps to the FTS5 NEAR window (documented
    divergence from Lucene's ordered edit-move slop): rank-identical to
    the FTS5 oracle's NEAR(t0 t1, slop) through the full DSL path."""
    body = ('{"query": {"match_phrase": {"text": '
            '{"query": "spark data", "slop": 6}}}, "size": 10}')
    r = engine.search("docs", body)
    ref = oracle_small.match_raw("NEAR(spark data, 6)", k=10)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref] and got
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)
    # slop == 0 (or omitted) stays the exact-adjacency phrase path
    r0 = engine.search("docs", ('{"query": {"match_phrase": {"text": '
                                '{"query": "spark join", "slop": 0}}}, "size": 10}'))
    ref0 = oracle_small.match_raw('"spark join"', k=10)
    assert [int(h["_id"]) for h in r0["hits"]["hits"]] == [d for d, _ in ref0]


def test_match_phrase_slop_in_filter_context(engine, duck, oracle_small):
    """slop phrase under bool.filter: score-exempt, composes with a
    relational predicate; hit set = NEAR docs ∩ lang='en'."""
    body = {"query": {"bool": {
        "filter": [{"match_phrase": {"text": {"query": "spark data", "slop": 6}}},
                   {"term": {"lang": "en"}}]}}, "size": 10000}
    r = engine.search("docs", body)
    near_ids = {d for d, _ in oracle_small.match_raw("NEAR(spark data, 6)", k=100000)}
    en_ids = {row[0] for row in duck.execute(
        "SELECT doc_id FROM documents WHERE lang = 'en'").fetchall()}
    got = {int(h["_id"]) for h in r["hits"]["hits"]}
    assert got == (near_ids & en_ids)
    assert all(h["_score"] == 0.0 for h in r["hits"]["hits"])  # filter ctx


def test_prefix_fulltext_through_engine(engine, oracle_small):
    r = engine.search("docs", '{"query": {"prefix": {"text": "spar"}}, "size": 10}')
    ref = oracle_small.match_raw("spar*", k=10)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_prefix_keyword_fallback(engine, duck):
    # prefix on a non-fulltext field -> plain startswith filter
    r = engine.search("events", '{"query": {"prefix": {"event_type": "err"}}, "size": 100000}')
    n = duck.execute("SELECT count(*) FROM events WHERE event_type LIKE 'err%'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_bool_must_not(engine, duck):
    body = {"query": {"bool": {
        "must": [{"range": {"value": {"gte": 100}}}],
        "must_not": [{"term": {"event_type": "error"}}, {"term": {"event_type": "click"}}],
    }}, "size": 100000}
    r = engine.search("events", body)
    n = duck.execute(
        "SELECT count(*) FROM events WHERE value >= 100 AND event_type NOT IN ('error','click')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0
    assert all(h["_source"]["event_type"] not in ("error", "click") for h in r["hits"]["hits"])


def test_fts_search_expression(engine, oracle_small):
    r = engine.fts_search("docs", 'spark AND (join OR merge) NOT batch', size=10)
    ref = oracle_small.match_raw('spark AND (join OR merge) NOT batch', k=10)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_min_sum_cardinality_metrics(engine, duck):
    for metric, sql in [
        ("min", "SELECT min(value) FROM events"),
        ("sum", "SELECT sum(value) FROM events"),
        ("cardinality", "SELECT count(DISTINCT event_type) FROM events"),
    ]:
        field = "event_type" if metric == "cardinality" else "value"
        r = engine.search("events", {"size": 0, "aggs": {"m": {metric: {"field": field}}}})
        exp = duck.execute(sql).fetchone()[0]
        assert math.isclose(float(r["aggregations"]["m"]["value"]), float(exp), rel_tol=1e-9)


def test_percentiles_agg(engine, duck):
    body = {"size": 0, "aggs": {"p": {"percentiles": {"field": "value", "percents": [50, 95]}}}}
    r = engine.search("events", body)
    vals = r["aggregations"]["p"]["values"]
    q50, q95 = duck.execute(
        "SELECT quantile_cont(value, 0.5), quantile_cont(value, 0.95) FROM events"
    ).fetchone()
    assert math.isclose(vals["50.0"], q50, rel_tol=1e-9)
    assert math.isclose(vals["95.0"], q95, rel_tol=1e-9)


def test_date_histogram_min_doc_count_zero(engine, duck):
    # bounds start BEFORE the data and end INSIDE it: ES extended_bounds
    # only EXTENDS the axis — the leading zero buckets appear, and the
    # data buckets past bounds.max must NOT be truncated (round-5 fix;
    # the axis runs to the data's own max day)
    body = {"size": 0, "aggs": {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1d", "min_doc_count": 0,
        "extended_bounds": {"min": 1703894400000, "max": 1704412800000},
    }}}}
    r = engine.search("events", body)
    buckets = r["aggregations"]["h"]["buckets"]
    keys = [b["key"] for b in buckets]
    data_max_day = duck.execute(
        "SELECT (epoch_ms(max(ts)) // 86400000) * 86400000 FROM events"
    ).fetchone()[0]
    assert keys == list(range(1703894400000, data_max_day + 1, 86400000))
    assert buckets[0]["doc_count"] == 0  # day before the data starts
    n_day1 = duck.execute(
        "SELECT count(*) FROM events WHERE ts >= '2024-01-01' AND ts < '2024-01-02'"
    ).fetchone()[0]
    day1 = [b for b in buckets if b["key"] == 1704067200000]
    assert day1 and day1[0]["doc_count"] == n_day1


def test_date_histogram_calendar_min_doc_count_zero(engine, duck):
    """VERDICT r4 #4: calendar_interval + min_doc_count=0 +
    extended_bounds — the Grafana dashboard shape. Months vary in
    length, so the axis must step by calendar month, not fixed millis."""
    # data lives in 2024; bounds pull the axis back to Nov 2023
    body = {"size": 0, "aggs": {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "month", "min_doc_count": 0,
        "extended_bounds": {"min": 1700000000000,  # 2023-11-14 -> truncs to Nov 1
                            "max": 1709000000000},  # 2024-02-27 -> Feb 1
    }}}}
    r = engine.search("events", body)
    buckets = r["aggregations"]["h"]["buckets"]
    keys = [b["key"] for b in buckets]
    # Nov 2023, Dec 2023, Jan 2024, Feb 2024 — month starts, UTC
    assert keys == [1698796800000, 1701388800000, 1704067200000, 1706745600000]
    per_month = {k: n for k, n in duck.execute(
        "SELECT epoch_ms(date_trunc('month', ts)), count(*) FROM events GROUP BY 1"
    ).fetchall()}
    for b in buckets:
        assert b["doc_count"] == per_month.get(b["key"], 0)
    assert buckets[0]["doc_count"] == 0  # Nov 2023: before the data
    # bounds NARROWER than the data must not drop data buckets (ES:
    # extended_bounds only extends) — bound inside Jan still shows Jan
    narrow = engine.search("events", {"size": 0, "aggs": {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "month", "min_doc_count": 0,
        "extended_bounds": {"min": 1704067200000, "max": 1704067200000},
    }}}})["aggregations"]["h"]["buckets"]
    data_months = sorted(k for k, n in per_month.items() if n > 0)
    assert [b["key"] for b in narrow] == data_months


def test_from_pagination(engine, duck):
    body_all = {"sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}], "size": 10}
    body_page = dict(body_all, size=4)
    body_page["from"] = 3
    full = [h["_id"] for h in engine.search("events", body_all)["hits"]["hits"]]
    page = [h["_id"] for h in engine.search("events", body_page)["hits"]["hits"]]
    assert page == full[3:7]


def test_highlight_matches_fts5(engine, oracle_small, docs_small):
    """Engine highlight output must be byte-identical to FTS5's
    highlight() for the same query over the same hits."""
    body = {"query": {"match": {"text": "spark join"}}, "size": 5,
            "highlight": {"fields": {"text": {"pre_tags": ["["], "post_tags": ["]"]}}}}
    r = engine.search("docs", body)
    con = oracle_small.con
    for h in r["hits"]["hits"]:
        want = con.execute(
            "SELECT highlight(t, 0, '[', ']') FROM t WHERE rowid = ? AND t MATCH 'spark OR join'",
            (int(h["_id"]),),
        ).fetchone()[0]
        assert h["highlight"]["text"][0] == want


def test_highlight_phrase(engine, oracle_small):
    body = {"query": {"match_phrase": {"text": "spark join"}}, "size": 5,
            "highlight": {"fields": {"text": {"pre_tags": ["<b>"], "post_tags": ["</b>"]}}}}
    r = engine.search("docs", body)
    con = oracle_small.con
    assert r["hits"]["hits"]
    for h in r["hits"]["hits"]:
        want = con.execute(
            "SELECT highlight(t, 0, '<b>', '</b>') FROM t WHERE rowid = ? AND t MATCH '\"spark join\"'",
            (int(h["_id"]),),
        ).fetchone()[0]
        assert h["highlight"]["text"][0] == want


def test_highlight_phrase_slop_as_near(engine, oracle_small):
    """match_phrase with slop scores as FTS5 NEAR(terms, slop), so its
    highlight must wrap exactly the instances FTS5's highlight() wraps
    for that NEAR group — not every instance of each term."""
    body = {"query": {"match_phrase": {"text": {"query": "spark data", "slop": 6}}},
            "size": 10,
            "highlight": {"fields": {"text": {"pre_tags": ["["], "post_tags": ["]"]}}}}
    r = engine.search("docs", body)
    con = oracle_small.con
    assert r["hits"]["hits"]
    for h in r["hits"]["hits"]:
        want = con.execute(
            "SELECT highlight(t, 0, '[', ']') FROM t WHERE rowid = ? "
            "AND t MATCH 'NEAR(spark data, 6)'",
            (int(h["_id"]),),
        ).fetchone()[0]
        assert h["highlight"]["text"][0] == want


def test_terms_exists_wildcard_matchall(engine, duck):
    r = engine.search("events", {"query": {"terms": {"event_type": ["click", "signup"]}}, "size": 100000})
    n = duck.execute("SELECT count(*) FROM events WHERE event_type IN ('click','signup')").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0
    r = engine.search("events", {"query": {"exists": {"field": "k"}}, "size": 100000})
    assert r["hits"]["total"]["value"] == duck.execute("SELECT count(*) FROM events").fetchone()[0]
    r = engine.search("events", {"query": {"exists": {"field": "no_such_key"}}, "size": 100000})
    assert r["hits"]["total"]["value"] == 0
    r = engine.search("events", {"query": {"wildcard": {"event_type": {"value": "s?gnup"}}}, "size": 100000})
    n = duck.execute("SELECT count(*) FROM events WHERE event_type GLOB 's?gnup'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0
    r = engine.search("events", {"query": {"match_all": {}}, "size": 100000})
    assert r["hits"]["total"]["value"] == duck.execute("SELECT count(*) FROM events").fetchone()[0]


# --- must_not with full-text clauses (polarity routing) ----------------------

def test_must_not_fulltext_match(engine, duck):
    """must_not:[match] on the indexed text field = docs NOT containing
    the term — previously mis-compiled to an always-false predicate."""
    body = {"query": {"bool": {"must_not": [{"match": {"text": "data"}}]}}, "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE NOT list_contains(string_split(text, ' '), 'data')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n
    assert 0 < n < 500  # meaningful exclusion, not all/none


def test_must_not_match_phrase(engine, duck):
    body = {"query": {"bool": {"must_not": [{"match_phrase": {"text": "spark join"}}]}},
            "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 unnest(range(len(string_split(text, ' ')))) AS pos
          FROM documents),
        ph AS (SELECT DISTINCT a.doc_id FROM tok a
               JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
               WHERE a.term = 'spark' AND b.term = 'join')
        SELECT count(*) FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM ph)
    """).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_must_not_fulltext_composes_with_positive_clauses(engine, duck):
    body = {"query": {"bool": {
        "must": [{"range": {"n_chars": {"gte": 200}}}],
        "must_not": [{"match": {"text": "data"}}, {"term": {"lang": "de"}}],
    }}, "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE n_chars >= 200 "
        "AND NOT list_contains(string_split(text, ' '), 'data') AND lang <> 'de'"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_must_not_fulltext_conjunction(engine, duck):
    # NOT(ft AND term): marker predicates compose under arbitrary nesting
    body = {"query": {"bool": {"must_not": [{"bool": {
        "must": [{"match": {"text": "data"}}],
        "filter": [{"term": {"lang": "en"}}],
    }}]}}, "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE NOT "
        "(list_contains(string_split(text, ' '), 'data') AND lang = 'en')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_should_or_with_fulltext(engine, duck):
    # ft clause ORed with a term clause: docs matching EITHER must hit
    # (the old inner-join routing silently required the ft clause)
    body = {"query": {"bool": {"should": [
        {"match": {"text": "zzzunseen"}},
        {"term": {"lang": "en"}},
    ]}}, "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute("SELECT count(*) FROM documents WHERE lang = 'en'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_double_negation_is_positive_match(engine, duck):
    body = {"query": {"bool": {"must_not": [{"bool": {"must_not": [
        {"match": {"text": "data"}}]}}]}}, "size": 100000}
    r = engine.search("docs", body)
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE list_contains(string_split(text, ' '), 'data')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


# --- filter-context phrase/prefix plan shape ---------------------------------

def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_phrase_with_filter_no_global_sort(engine, duck):
    """match_phrase + filter routes through the UNORDERED scoring relation
    (k=None): no corpus-wide Sort whose order the join then discards."""
    body = {"query": {"bool": {
        "must": [{"match_phrase": {"text": "spark join"}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "size": 100000}
    hits, _, _ = engine.search_df("docs", body)
    plan = _executed_plan(hits)
    # final top-k is TakeOrderedAndProject; nothing else may sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan, plan
    r = engine.search("docs", body)
    n = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 unnest(range(len(string_split(text, ' ')))) AS pos
          FROM documents),
        ph AS (SELECT DISTINCT a.doc_id FROM tok a
               JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
               WHERE a.term = 'spark' AND b.term = 'join')
        SELECT count(*) FROM documents JOIN ph USING (doc_id) WHERE lang = 'en'
    """).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_prefix_with_filter_no_global_sort(engine):
    body = {"query": {"bool": {
        "must": [{"prefix": {"text": {"value": "dat"}}}],
        "filter": [{"range": {"n_chars": {"gte": 100}}}],
    }}, "size": 10}
    hits, _, _ = engine.search_df("docs", body)
    plan = _executed_plan(hits)
    assert "Sort " not in plan, plan


# --- highlight omission -------------------------------------------------------

def test_highlight_omitted_for_nonmatching_hits(engine):
    from gopensearch_spark.search.highlight import highlight_text, leaves_for_match

    assert highlight_text("no hits here", [("term", "zzz")]) is None
    assert highlight_text(None, [("term", "zzz")]) is None
    assert leaves_for_match("", "prefix") == []
    # engine-level: a hit matched by the term clause but not the match
    # clause must carry no highlight entry
    body = {
        "query": {"bool": {"should": [
            {"match": {"text": "zzzunseen"}},
            {"term": {"lang": "en"}},
        ]}},
        "size": 5,
        "highlight": {"fields": {"text": {}}},
    }
    r = engine.search("docs", body)
    assert r["hits"]["hits"], "should-clause must still return hits"
    assert all("highlight" not in h for h in r["hits"]["hits"])


def test_percentiles_on_json_field(engine, duck):
    # 'k' lives inside the props JSON blob -> resolved via get_json_object
    body = {"size": 0, "aggs": {"p": {"percentiles": {"field": "k", "percents": [50, 90]}}}}
    r = engine.search("events", body)
    exp = duck.execute(
        "SELECT quantile_cont(CAST(json_extract_string(props, '$.k') AS DOUBLE), [0.5, 0.9]) FROM events"
    ).fetchone()[0]
    got = r["aggregations"]["p"]["values"]
    assert got["50.0"] == pytest.approx(exp[0])
    assert got["90.0"] == pytest.approx(exp[1])


def test_pure_match_serves_from_flat_postings(engine):
    """A bare match query takes the fast path: the executed plan scans
    flat postings with no Python worker, and the index side is cut to
    its top-k before the doc join, so only top-k ids reach it."""
    body = {"query": {"match": {"text": "spark join"}}, "size": 10}
    hits, aggs, _ = engine.search_df("docs", body)
    plan = _executed_plan(hits)
    assert "/postings" in plan
    assert "Python" not in plan and "Pandas" not in plan, plan
    assert plan.count("TakeOrderedAndProject") == 2, plan  # index top-k + hit page
    assert aggs == {}
    # a match + filter must NOT take the fast path (needs the relation)
    hits2, _, _ = engine.search_df(
        "docs", {"query": {"bool": {"must": [{"match": {"text": "spark"}}],
                                    "filter": [{"term": {"lang": "en"}}]}}, "size": 5})
    plan2 = _executed_plan(hits2)
    assert "/postings" in plan2
    assert plan2.count("TakeOrderedAndProject") == 1, plan2


@pytest.mark.parametrize("entry", ["flat", "wand"])
def test_repeated_query_terms_score_per_occurrence(spark, engine, index_small,
                                                   oracle_small, entry):
    """`match "spark spark"` scores spark twice, as FTS5 does; AND still
    needs each distinct term. ``flat`` goes through the Engine's
    pure-match path; ``wand`` calls the ``wand_match`` name that
    ``__spark_entry__.py`` and ``bench.py`` serve from."""
    from gopensearch_spark.search import wand_match

    for text, op in [("spark spark", "and"), ("spark join spark", "and"),
                     ("spark join spark", "or")]:
        if entry == "flat":
            body = {"query": {"match": {"text": {"query": text, "operator": op}}},
                    "size": 10}
            got = [(int(h["_id"]), h["_score"])
                   for h in engine.search("docs", body)["hits"]["hits"]]
        else:
            got = [(int(r["doc_id"]), r["score"])
                   for r in wand_match(spark, index_small, text.split(),
                                       k=10, mode=op).collect()]
        ref = oracle_small.match(text.split(), k=10, mode=op)
        assert ref and [d for d, _ in got] == [d for d, _ in ref], (text, op)
        for (_, s1), (_, s2) in zip(got, ref):
            assert math.isclose(s1, s2, rel_tol=1e-9), (text, op)


def test_two_match_clauses_sum_scores(engine, oracle_small):
    """Two separate match clauses in one bool.must: each marker-joins its
    own scoring relation and the hit score is their SUM (additive BM25,
    matching FTS5's multi-phrase 'a AND b' scoring = 'a b')."""
    body = {"query": {"bool": {"must": [
        {"match": {"text": "spark"}},
        {"match": {"text": "join"}},
    ]}}, "size": 10}
    r = engine.search("docs", body)
    # FTS5 'spark join' (implicit AND) scores sum the per-term contribs
    ref = oracle_small.match(["spark", "join"], k=10, mode="and")
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    from gopensearch_spark.datapipe import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(pairs, reliable_checkpoint=True).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_multi_index_search_degrades_to_first(engine, duck):
    # reference route `/a,b,c/_search` binds {index} to the first segment
    r = engine.search("events,docs,whatever", '{"query": {"term": {"event_type": "error"}}, "size": 10000}')
    n = duck.execute("SELECT count(*) FROM events WHERE event_type = 'error'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n


def test_filter_context_fulltext_scoring_exempt(engine, oracle_small):
    """ES filter context: a match inside bool.filter RESTRICTS the hit
    set but contributes no score — the hit scores equal the must-clause
    score alone."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"match": {"text": "join"}}],
    }}, "size": 10}
    r = engine.search("docs", body)
    must_only = dict(oracle_small.match(["spark"], k=100000, mode="or"))
    both = {d for d, _ in oracle_small.match(["spark", "join"], k=100000, mode="and")}
    ids = {int(h["_id"]) for h in r["hits"]["hits"]}
    assert ids and ids <= both
    for h in r["hits"]["hits"]:
        assert math.isclose(h["_score"], must_only[int(h["_id"])], rel_tol=1e-9)


@pytest.fixture(scope="module")
def lang_index(spark, docs_small, tmp_path_factory):
    """Second per-field inverted index (over `lang`) for multi_match."""
    from gopensearch_spark.index import build_index

    out = str(tmp_path_factory.mktemp("idx") / "lang")
    build_index(spark, docs_small.select("doc_id", "lang"), out,
                text_col="lang", term_buckets=4)
    return out


def _py_bm25(n_docs, df, tf, dl, avgdl):
    idf = math.log((n_docs - df + 0.5) / (df + 0.5))
    if idf <= 0:
        idf = 1e-6
    return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))


def test_multi_match_most_fields(spark, docs_small, index_small, lang_index):
    """ES multi_match type=most_fields: additive weighted BM25 over two
    per-field indexes (each with its OWN df/avgdl stats), verified
    against an independent Python BM25 over the tokenized corpus."""
    from gopensearch_spark.analysis import tokenize

    e = Engine(spark)
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small,
                   extra_text_fields={"lang": lang_index})
    body = {"query": {"multi_match": {
        "query": "data en", "fields": ["text^2", "lang"],
        "type": "most_fields"}}, "size": 100000}
    hits, _, _ = e.search_df("docs", body)
    got = {r["doc_id"]: r["score"] for r in hits.collect()}

    rows = [(r["doc_id"], r["text"], r["lang"]) for r in docs_small.collect()]
    n = len(rows)
    toks = {d: tokenize(t) for d, t, _ in rows}
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {q: sum(1 for v in toks.values() if q in v) for q in ("data", "en")}
    lang_df = {q: sum(1 for _, _, l in rows if l == q) for q in ("data", "en")}
    exp = {}
    for d, t, l in rows:
        s = 0.0
        for q in ("data", "en"):
            tf = toks[d].count(q)
            if tf:
                s += 2.0 * _py_bm25(n, dfs[q], tf, len(toks[d]), avgdl)
            if l == q:  # lang field: dl == avgdl == 1, tf == 1 -> w == 1
                s += _py_bm25(n, lang_df[q], 1, 1, 1.0)
        if s:
            exp[d] = s
    assert set(got) == set(exp)
    for d in exp:
        assert math.isclose(got[d], exp[d], rel_tol=1e-9), (d, got[d], exp[d])
    # both fields actually contribute: some doc matches via lang only
    text_only = {d for d, t, l in rows if "data" in toks[d]}
    assert set(exp) - text_only, "expected lang-only matches in the corpus"

    # operator=AND applies WITHIN a field: no doc has both terms in one
    # field here, so the result is empty
    body_and = {"query": {"multi_match": {
        "query": "data en", "fields": ["text^2", "lang"], "operator": "AND"}},
        "size": 100000}
    hits_and, _, _ = e.search_df("docs", body_and)
    assert hits_and.count() == 0

    # un-indexed field -> clear error
    with pytest.raises(ValueError, match="no full-text index"):
        e.search_df("docs", {"query": {"multi_match": {
            "query": "x", "fields": ["text", "source"]}}})

    # --- best_fields (the ES default type) -------------------------------
    # per-field relations are FTS5-pinned elsewhere; here pin the
    # combination algebra against single-field runs through the SAME
    # engine: best = max(parts) + tie_breaker * (sum - max)
    def field_scores(fields):
        h, _, _ = e.search_df("docs", {"query": {"multi_match": {
            "query": "data en", "fields": fields, "type": "most_fields"}},
            "size": 100000})
        return {r["doc_id"]: r["score"] for r in h.collect()}

    s_text = field_scores(["text^2"])
    s_lang = field_scores(["lang"])
    for tb in (0.0, 0.3):
        body_best = {"query": {"multi_match": {
            "query": "data en", "fields": ["text^2", "lang"],
            "tie_breaker": tb}}, "size": 100000}  # type omitted -> best_fields
        hits_b, _, _ = e.search_df("docs", body_best)
        got_b = {r["doc_id"]: r["score"] for r in hits_b.collect()}
        assert set(got_b) == set(s_text) | set(s_lang)
        for d, s in got_b.items():
            parts = [x for x in (s_text.get(d), s_lang.get(d)) if x is not None]
            want = max(parts) + tb * (sum(parts) - max(parts))
            assert math.isclose(s, want, rel_tol=1e-9), (d, tb, s, want)
    # tie_breaker=0 differs from most_fields wherever both fields hit
    both = set(s_text) & set(s_lang)
    assert both, "expected docs matching in both fields"


def test_multi_match_composes_under_bool(spark, docs_small, index_small, lang_index):
    """multi_match is a marker-predicate clause like every other
    full-text leaf: it composes under bool.must with scoring-exempt
    filters."""
    e = Engine(spark)
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small,
                   extra_text_fields={"lang": lang_index})
    body = {"query": {"bool": {
        "must": [{"multi_match": {"query": "data en", "fields": ["text", "lang"]}}],
        "filter": [{"range": {"n_chars": {"gte": 300}}}],
    }}, "size": 100000}
    hits, _, _ = e.search_df("docs", body)
    rows = hits.collect()
    assert rows
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs_small.collect()}
    assert all(n_chars[r["doc_id"]] >= 300 for r in rows)


def test_track_total_hits(spark, docs_small, index_small, duck):
    """hits.total: post-limit count by default (reference compat),
    exact pre-limit count with track_total_hits — per request or as the
    Engine default; both the general path and the pure-match fast
    path."""
    e = Engine(spark)
    e.create_index("events", spark.read.parquet(os.path.join(SF, "events.parquet")),
                   json_col="props", id_col="event_id")
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small)

    n_err = duck.execute("SELECT count(*) FROM events WHERE event_type = 'error'").fetchone()[0]
    body = {"query": {"term": {"event_type": "error"}}, "size": 2}
    r = e.search("events", body)
    assert r["hits"]["total"]["value"] == 2  # compat default: post-limit
    r = e.search("events", {**body, "track_total_hits": True})
    assert r["hits"]["total"]["value"] == n_err > 2
    assert len(r["hits"]["hits"]) == 2

    # pure-match fast path: total = full match count, page = top-k
    n_data = duck.execute(
        "SELECT count(*) FROM documents WHERE list_contains(string_split(text, ' '), 'data')"
    ).fetchone()[0]
    r = e.search("docs", {"query": {"match": {"text": "data"}}, "size": 3,
                          "track_total_hits": True})
    assert r["hits"]["total"]["value"] == n_data > 3
    assert len(r["hits"]["hits"]) == 3

    # Engine-level default, overridable per request
    e2 = Engine(spark, track_total_hits=True)
    e2.create_index("events", spark.read.parquet(os.path.join(SF, "events.parquet")),
                    json_col="props", id_col="event_id")
    r = e2.search("events", body)
    assert r["hits"]["total"]["value"] == n_err
    r = e2.search("events", {**body, "track_total_hits": False})
    assert r["hits"]["total"]["value"] == 2


def test_range_agg(engine, duck):
    """ES `range` bucket agg: from inclusive / to exclusive, request
    order kept, overlapping + empty ranges allowed, custom keys."""
    body = {"size": 0, "aggs": {"r": {"range": {"field": "value", "ranges": [
        {"to": 100}, {"from": 100, "to": 500},
        {"from": 500}, {"from": 0, "key": "all_nonneg"},
        {"from": 1e12, "to": 2e12},  # empty
    ]}}}}
    r = engine.search("events", body)
    buckets = r["aggregations"]["r"]["buckets"]
    lo, mid, hi, nonneg = duck.execute("""
      SELECT sum(CASE WHEN value < 100 THEN 1 ELSE 0 END),
             sum(CASE WHEN value >= 100 AND value < 500 THEN 1 ELSE 0 END),
             sum(CASE WHEN value >= 500 THEN 1 ELSE 0 END),
             sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END)
      FROM events WHERE value IS NOT NULL
    """).fetchone()
    assert [(b["key"], b["doc_count"]) for b in buckets] == [
        ("*-100.0", int(lo)), ("100.0-500.0", int(mid)), ("500.0-*", int(hi)),
        ("all_nonneg", int(nonneg)), ("1000000000000.0-2000000000000.0", 0)]
    assert int(nonneg) > 0


def test_filters_agg(engine, duck):
    """ES `filters` agg: named buckets in one conditional-count pass,
    composed under a query filter (bucket counts respect the query)."""
    body = {
        "query": {"range": {"value": {"gte": 0}}},
        "size": 0,
        "aggs": {"by_kind": {"filters": {"filters": {
            "errors": {"term": {"event_type": "error"}},
            "big_clicks": {"bool": {"must": [
                {"term": {"event_type": "click"}},
                {"range": {"value": {"gte": 100}}}]}},
            "nothing": {"term": {"event_type": "no_such_type"}},
        }}}},
    }
    r = engine.search("events", body)
    buckets = r["aggregations"]["by_kind"]["buckets"]
    n_err, n_big = duck.execute("""
      SELECT sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
             sum(CASE WHEN event_type = 'click' AND value >= 100 THEN 1 ELSE 0 END)
      FROM events WHERE value >= 0
    """).fetchone()
    assert buckets == {
        "errors": {"doc_count": int(n_err)},
        "big_clicks": {"doc_count": int(n_big)},
        "nothing": {"doc_count": 0},
    }
    assert int(n_err) > 0 and int(n_big) > 0


def test_stats_and_value_count_aggs(engine, duck):
    body = {"size": 0, "aggs": {
        "s": {"stats": {"field": "value"}},
        "n": {"value_count": {"field": "event_type"}},
    }}
    r = engine.search("events", body)
    s = r["aggregations"]["s"]
    cnt, mn, mx, avg, sm, n_types = duck.execute(
        "SELECT count(value), min(value), max(value), avg(value), sum(value),"
        " count(event_type) FROM events"
    ).fetchone()
    assert s["count"] == cnt
    assert math.isclose(s["min"], mn, rel_tol=1e-9)
    assert math.isclose(s["max"], mx, rel_tol=1e-9)
    assert math.isclose(s["avg"], avg, rel_tol=1e-9)
    assert math.isclose(s["sum"], sm, rel_tol=1e-9)
    assert r["aggregations"]["n"]["value"] == n_types
    # value_count as a metric sub-agg under terms
    r2 = engine.search("events", {"size": 0, "aggs": {"t": {
        "terms": {"field": "event_type", "size": 3},
        "aggs": {"nv": {"value_count": {"field": "value"}}},
    }}})
    exp = duck.execute("""
      SELECT event_type, count(*) AS n, count(value) AS nv FROM events
      GROUP BY 1 ORDER BY n DESC, event_type ASC LIMIT 3
    """).fetchall()
    got = [(b["key"], b["doc_count"], b["nv"]["value"])
           for b in r2["aggregations"]["t"]["buckets"]]
    assert got == [(t, int(n), int(nv)) for t, n, nv in exp]


def test_match_phrase_prefix_through_engine(engine, oracle_small):
    """ES match_phrase_prefix = FTS5 phrase-prefix (`"a b" *`, final
    token a prefix): rank+score identical to the FTS5 oracle through the
    full DSL path, composing under bool like any full-text clause."""
    body = {"query": {"match_phrase_prefix": {"text": "spark jo"}}, "size": 10}
    r = engine.search("docs", body)
    ref = oracle_small.match_raw('"spark jo" *', k=10)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in ref] and got
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)
    # composes as a scoring-exempt filter clause
    rf = engine.search("docs", {"query": {"bool": {"filter": [
        {"match_phrase_prefix": {"text": "spark jo"}}]}}, "size": 10000})
    assert {int(h["_id"]) for h in rf["hits"]["hits"]} >= {d for d, _ in ref}
    # unindexed field -> the clear capability error
    with pytest.raises(Exception, match="match_phrase_prefix"):
        engine.search("events", {"query": {
            "match_phrase_prefix": {"event_type": "cli"}}})


def test_terms_agg_order(engine, duck):
    """ES terms `order`: _key asc, and by a metric sub-agg label —
    cross-checked against DuckDB (ties break by key asc)."""
    r = engine.search("events", {"size": 0, "aggs": {"t": {
        "terms": {"field": "event_type", "size": 3, "order": {"_key": "asc"}}}}})
    exp = duck.execute(
        "SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1 ASC LIMIT 3"
    ).fetchall()
    assert [(b["key"], b["doc_count"]) for b in r["aggregations"]["t"]["buckets"]] \
        == [(k, int(n)) for k, n in exp]

    r2 = engine.search("events", {"size": 0, "aggs": {"t": {
        "terms": {"field": "event_type", "size": 2, "order": {"m": "desc"}},
        "aggs": {"m": {"avg": {"field": "value"}}}}}})
    exp2 = duck.execute(
        "SELECT event_type, count(*), avg(value) AS m FROM events "
        "GROUP BY 1 ORDER BY m DESC, 1 ASC LIMIT 2"
    ).fetchall()
    got2 = [(b["key"], b["doc_count"], b["m"]["value"])
            for b in r2["aggregations"]["t"]["buckets"]]
    assert [(k, n) for k, n, _ in got2] == [(k, int(n)) for k, n, _ in exp2]
    for (_, _, g), (_, _, w) in zip(got2, exp2):
        assert math.isclose(g, w, rel_tol=1e-9)

    # unknown order target -> clear error
    with pytest.raises(ValueError, match="terms order"):
        engine.search("events", {"size": 0, "aggs": {"t": {
            "terms": {"field": "event_type", "order": {"nope": "desc"}}}}})


def test_regexp_keyword_field(engine, duck):
    """ES regexp on a plain column: pattern matches the ENTIRE value."""
    r = engine.search(
        "events",
        {"query": {"regexp": {"event_type": {"value": "s.*up"}}}, "size": 100000},
    )
    n = duck.execute(
        "SELECT count(*) FROM events WHERE regexp_full_match(event_type, 's.*up')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0
    assert all(h["_source"]["event_type"] == "signup" for h in r["hits"]["hits"])
    # unanchored fragment must NOT match (whole-value semantics)
    r2 = engine.search(
        "events", {"query": {"regexp": {"event_type": {"value": "ign"}}}}
    )
    assert r2["hits"]["hits"] == []
    # case_insensitive flag
    r3 = engine.search(
        "events",
        {"query": {"regexp": {"event_type": {"value": "SIGNUP",
                                             "case_insensitive": True}}},
         "size": 100000},
    )
    assert r3["hits"]["total"]["value"] == n


def test_minimum_should_match(engine, duck):
    """bool.should + minimum_should_match: at-least-n-of semantics,
    int / negative / percentage forms, cross-checked against DuckDB."""
    shoulds = [
        {"term": {"event_type": "click"}},
        {"range": {"value": {"gte": 100}}},
        {"term": {"event_type": "error"}},
    ]
    ind = ("(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"
           " + CASE WHEN value >= 100 THEN 1 ELSE 0 END"
           " + CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)")
    for spec, req in [(2, 2), ("2", 2), (-1, 2), ("67%", 2), ("-34%", 2),
                      (1, 1), (3, 3)]:
        r = engine.search(
            "events",
            {"query": {"bool": {"should": shoulds,
                                "minimum_should_match": spec}},
             "size": 100000},
        )
        n = duck.execute(
            f"SELECT count(*) FROM events WHERE {ind} >= {req}"
        ).fetchone()[0]
        assert r["hits"]["total"]["value"] == n, (spec, req)
        assert n > 0 or req == 3  # non-vacuous for the common cases


def test_minimum_should_match_zero_is_unrestrictive(engine, duck):
    """msm <= 0: shoulds stop restricting (ES score-boost-only mode) —
    the must clause alone decides membership."""
    r = engine.search(
        "events",
        {"query": {"bool": {
            "must": [{"term": {"event_type": "click"}}],
            "should": [{"range": {"value": {"gte": 100000}}}],
            "minimum_should_match": 0}},
         "size": 100000},
    )
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'click'"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0


def test_minimum_should_match_unsatisfiable(engine):
    # more required than clauses exist -> empty (Lucene semantics)
    r = engine.search(
        "events",
        {"query": {"bool": {"should": [{"term": {"event_type": "click"}}],
                            "minimum_should_match": 2}}},
    )
    assert r["hits"]["hits"] == []


def test_minimum_should_match_with_fulltext_should(spark, docs_small,
                                                   index_small, oracle_small):
    """msm counts full-text should clauses too (marker predicates are
    real booleans): 2-of-3 single-term matches == docs containing >= 2
    of the terms; scores stay additive over the MATCHING clauses."""
    e = Engine(spark)
    e.create_index("d2", docs_small, text_field="text", index_dir=index_small)
    terms = ["merge", "sort", "batch"]
    r = e.search(
        "d2",
        {"query": {"bool": {
            "should": [{"match": {"text": t}} for t in terms],
            "minimum_should_match": 2}},
         "size": 10},
    )
    per = [dict(oracle_small.match([t], k=100000, mode="or")) for t in terms]
    want = {}
    for d in set().union(*per):
        hits = [p[d] for p in per if d in p]
        if len(hits) >= 2:
            want[d] = sum(hits)
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (_, s1), (_, s2) in zip(got, top):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_ids_query(engine, duck):
    r = engine.search(
        "events", {"query": {"ids": {"values": ["3", "7", "11"]}}, "size": 100}
    )
    got = sorted(int(h["_id"]) for h in r["hits"]["hits"])
    assert got == [3, 7, 11]
    # under bool, composes like any predicate
    r2 = engine.search(
        "events",
        {"query": {"bool": {
            "must": [{"ids": {"values": [str(i) for i in range(100)]}}],
            "filter": [{"term": {"event_type": "click"}}]}},
         "size": 1000},
    )
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_id < 100 AND event_type = 'click'"
    ).fetchone()[0]
    assert r2["hits"]["total"]["value"] == n


def test_search_after_pagination(engine, duck):
    """Three cursor pages == the oracle's first 30 rows; pages disjoint."""
    exp = duck.execute(
        "SELECT event_id FROM events ORDER BY value DESC, event_id ASC LIMIT 30"
    ).fetchall()
    body = {"sort": [{"value": "desc"}, {"event_id": "asc"}], "size": 10}
    got, after = [], None
    for _ in range(3):
        b = dict(body)
        if after is not None:
            b["search_after"] = after
        r = engine.search("events", b)
        page = r["hits"]["hits"]
        assert len(page) == 10
        got.extend(int(h["_id"]) for h in page)
        last = page[-1]["_source"]
        after = [last["value"], int(last["event_id"])]
    assert got == [e[0] for e in exp]
    assert len(set(got)) == 30  # no overlap between pages


def test_search_after_validation(engine):
    with pytest.raises(ValueError, match="requires an explicit sort"):
        engine.search("events", {"search_after": [1.0], "size": 5})
    with pytest.raises(ValueError, match="cannot be combined with from"):
        engine.search("events", {"sort": [{"value": "desc"}],
                                 "search_after": [5.0], "from": 3})
    with pytest.raises(ValueError, match="values for"):
        engine.search("events", {"sort": [{"value": "desc"}],
                                 "search_after": [5.0, 7]})


def test_composite_agg_pagination(engine, duck):
    """composite walks ALL buckets in key order via after_key — the
    scalable alternative to a terms top-N; full walk == the oracle's
    complete GROUP BY."""
    exp = duck.execute(
        "SELECT event_type, user_id, count(*), avg(value) FROM events "
        "GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC"
    ).fetchall()
    walked, after = [], None
    while True:
        comp = {"size": 7, "sources": [
            {"t": {"terms": {"field": "event_type"}}},
            {"u": {"terms": {"field": "user_id", "order": "asc"}}},
        ]}
        if after is not None:
            comp["after"] = after
        r = engine.search("events", {"size": 0, "aggs": {"c": {
            "composite": comp,
            "aggs": {"m": {"avg": {"field": "value"}}}}}})
        buckets = r["aggregations"]["c"]["buckets"]
        if not buckets:
            break
        for b in buckets:
            walked.append((b["key"]["t"], b["key"]["u"], b["doc_count"],
                           b["m"]["value"]))
        after = r["aggregations"]["c"].get("after_key")
        assert after == buckets[-1]["key"]
    assert [(t, u, n) for t, u, n, _ in walked] == \
        [(t, u, int(n)) for t, u, n, _ in exp]
    for (_, _, _, g), (_, _, _, w) in zip(walked, exp):
        assert math.isclose(g, w, rel_tol=1e-9)


def test_composite_desc_and_null_skip(spark, duck):
    """desc source order + missing_bucket=false NULL skip."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a")], "id long, g string"
    )
    e = Engine(spark)
    e.create_index("t", df, id_col="id")
    r = e.search("t", {"size": 0, "aggs": {"c": {"composite": {
        "size": 10, "sources": [{"g": {"terms": {"field": "g",
                                                 "order": "desc"}}}]}}}})
    got = [(b["key"]["g"], b["doc_count"])
           for b in r["aggregations"]["c"]["buckets"]]
    assert got == [("b", 1), ("a", 2)]  # desc order, NULL group dropped


def test_composite_source_validation(engine):
    with pytest.raises(ValueError, match="must be terms, histogram"):
        engine.search("events", {"size": 0, "aggs": {"c": {"composite": {
            "sources": [{"g": {"geotile_grid": {"field": "ts"}}}]}}}})
    with pytest.raises(ValueError, match="missing keys"):
        engine.search("events", {"size": 0, "aggs": {"c": {"composite": {
            "sources": [{"t": {"terms": {"field": "event_type"}}}],
            "after": {"wrong": 1}}}}})


def test_count_api(engine, duck):
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'click'"
    ).fetchone()[0]
    r = engine.count("events", {"query": {"term": {"event_type": "click"}}})
    assert r["count"] == n
    r_all = engine.count("events")
    assert r_all["count"] == duck.execute(
        "SELECT count(*) FROM events"
    ).fetchone()[0]


def test_count_fulltext(engine):
    """_count with a match query: exact match-relation count, no top-k."""
    r = engine.count("docs", {"query": {"match": {"text": "spark"}}})
    full = engine.search(
        "docs", {"query": {"match": {"text": "spark"}},
                 "track_total_hits": True}
    )
    assert r["count"] == full["hits"]["total"]["value"] > 0


def test_mget(engine, duck):
    r = engine.mget({"ids": ["5", "3", "999999", "12"]}, index="events")
    docs = r["docs"]
    assert [d["_id"] for d in docs] == ["5", "3", "999999", "12"]
    assert [d["found"] for d in docs] == [True, True, False, True]
    v = duck.execute("SELECT value FROM events WHERE event_id = 3").fetchone()[0]
    assert math.isclose(docs[1]["_source"]["value"], v, rel_tol=1e-9)
    # docs-form with explicit _index
    r2 = engine.mget({"docs": [{"_index": "events", "_id": "7"}]})
    assert r2["docs"][0]["found"] and r2["docs"][0]["_source"]["event_id"] == 7


def test_constant_score(engine, duck):
    """Every hit scores exactly `boost`; membership = the filter."""
    r = engine.search("events", {
        "query": {"constant_score": {
            "filter": {"term": {"event_type": "error"}}, "boost": 2.5}},
        "size": 10000, "track_total_hits": True,
    })
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'error'"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n
    assert all(h["_score"] == 2.5 for h in r["hits"]["hits"])


def test_constant_score_fulltext_filter(engine):
    """constant_score over a full-text match: membership via the match
    relation, score pinned to boost (no BM25 contribution)."""
    base = engine.search("docs", {"query": {"match": {"text": "spark"}},
                                  "size": 1000, "track_total_hits": True})
    r = engine.search("docs", {
        "query": {"constant_score": {
            "filter": {"match": {"text": "spark"}}, "boost": 1.5}},
        "size": 1000, "track_total_hits": True,
    })
    assert r["hits"]["total"]["value"] == base["hits"]["total"]["value"] > 0
    assert all(h["_score"] == 1.5 for h in r["hits"]["hits"])


def test_dis_max_scores(engine):
    """dis_max = best branch + tie_breaker x other matched branches,
    verified doc-by-doc against the single-branch searches."""
    t1, t2, tb = "spark", "data", 0.4

    def scores(term):
        r = engine.search("docs", {"query": {"match": {"text": term}},
                                   "size": 10000})
        return {h["_id"]: h["_score"] for h in r["hits"]["hits"]}

    s1, s2 = scores(t1), scores(t2)
    exp = {}
    for i in set(s1) | set(s2):
        a, b = s1.get(i), s2.get(i)
        vals = [v for v in (a, b) if v is not None]
        exp[i] = max(vals) + tb * (sum(vals) - max(vals))
    r = engine.search("docs", {
        "query": {"dis_max": {"tie_breaker": tb, "queries": [
            {"match": {"text": t1}}, {"match": {"text": t2}}]}},
        "size": 10000, "track_total_hits": True,
    })
    assert r["hits"]["total"]["value"] == len(exp)
    got = {h["_id"]: h["_score"] for h in r["hits"]["hits"]}
    assert set(got) == set(exp)
    for i, s in got.items():
        assert math.isclose(s, exp[i], rel_tol=1e-9), i
    # ranking follows the folded score
    ranked = sorted(exp.items(), key=lambda kv: (-kv[1], int(kv[0])))
    assert [h["_id"] for h in r["hits"]["hits"]] == [i for i, _ in ranked]


def test_dis_max_filter_context(engine, duck):
    """dis_max under bool.filter: membership OR, score-exempt."""
    r = engine.search("events", {
        "query": {"bool": {"filter": [{"dis_max": {"queries": [
            {"term": {"event_type": "error"}},
            {"term": {"event_type": "signup"}}]}}]}},
        "size": 10000, "track_total_hits": True,
    })
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_type IN ('error','signup')"
    ).fetchone()[0]
    assert r["hits"]["total"]["value"] == n


def test_top_hits_under_terms(engine, duck):
    """terms buckets each carry their top-3 docs by value desc."""
    r = engine.search("events", {"size": 0, "aggs": {"types": {
        "terms": {"field": "event_type", "size": 10},
        "aggs": {
            "best": {"top_hits": {"size": 3,
                                  "sort": [{"value": {"order": "desc"}}],
                                  "_source": ["event_id", "value"]}},
            "m": {"avg": {"field": "value"}},
        }}}})
    exp = duck.execute(
        "SELECT event_type, event_id, value FROM ("
        " SELECT event_type, event_id, value, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY value DESC, event_id ASC) rn"
        " FROM events) WHERE rn <= 3"
    ).fetchall()
    by_type = {}
    for t, i, v in exp:
        by_type.setdefault(t, []).append((i, v))
    buckets = r["aggregations"]["types"]["buckets"]
    assert len(buckets) == 5
    for b in buckets:
        hits = b["best"]["hits"]["hits"]
        got = [(h["_source"]["event_id"], h["_source"]["value"]) for h in hits]
        assert got == by_type[b["key"]], b["key"]
        assert set(hits[0]["_source"]) == {"event_id", "value"}  # _source cut
        assert "value" in b["m"]  # metric sibling still shaped


def test_top_hits_dotted_source_field(spark, engine):
    """Dotted _source fields (struct members) come back nested under
    their parents, as ES returns them, so two fields that share a leaf
    name (name, user.name, owner.name) each keep their own value."""
    users = spark.createDataFrame(
        [(1, "a", 5, "n1", ("ann",), ("oa",)), (2, "a", 9, "n2", ("bob",), ("ob",)),
         (3, "b", 7, "n3", ("cy",), ("oc",))],
        "doc_id long, grp string, value long, name string, "
        "user struct<name: string>, owner struct<name: string>")
    engine.create_index("users", users)

    def top(source):
        r = engine.search("users", {"size": 0, "aggs": {"g": {
            "terms": {"field": "grp"},
            "aggs": {"best": {"top_hits": {"size": 1, "sort": [{"value": "desc"}],
                                           "_source": source}}}}}})
        return {b["key"]: [h["_source"] for h in b["best"]["hits"]["hits"]]
                for b in r["aggregations"]["g"]["buckets"]}

    assert top(["user.name", "value"]) == {
        "a": [{"user": {"name": "bob"}, "value": 9}],
        "b": [{"user": {"name": "cy"}, "value": 7}]}
    assert top(["name", "user.name", "owner.name"]) == {
        "a": [{"name": "n2", "user": {"name": "bob"}, "owner": {"name": "ob"}}],
        "b": [{"name": "n3", "user": {"name": "cy"}, "owner": {"name": "oc"}}]}
    assert top(["user.name", "user"])["a"] == [{"user": {"name": "bob"}}]


def test_top_hits_requires_sort_when_unscored(engine):
    with pytest.raises(ValueError, match="requires an explicit `sort`"):
        engine.search("events", {"size": 0, "aggs": {"t": {
            "terms": {"field": "event_type"},
            "aggs": {"h": {"top_hits": {"size": 2}}}}}})


def test_top_hits_score_sort_when_scored(engine):
    """Full-text scored query: top_hits defaults to _score desc."""
    r = engine.search("docs", {
        "query": {"match": {"text": "spark"}},
        "size": 0,
        "aggs": {"all": {"terms": {"field": "lang", "size": 10},
                         "aggs": {"h": {"top_hits": {"size": 2}}}}},
    })
    for b in r["aggregations"]["all"]["buckets"]:
        hits = b["h"]["hits"]["hits"]
        scores = [h["_source"]["score"] for h in hits]
        assert scores == sorted(scores, reverse=True)


def test_significant_terms_jlh(engine, duck):
    """JLH arithmetic vs a hand-computed oracle: foreground = high-value
    events, background = all events, terms = event_type."""
    r = engine.search("events", {
        "query": {"range": {"value": {"gte": 150}}},
        "size": 0,
        "aggs": {"sig": {"significant_terms": {
            "field": "event_type", "size": 10, "min_doc_count": 1}}},
    })
    rows = duck.execute("""
        WITH fg AS (SELECT event_type k, count(*) c FROM events
                    WHERE value >= 150 GROUP BY 1),
             bg AS (SELECT event_type k, count(*) c FROM events GROUP BY 1),
             tot AS (SELECT (SELECT count(*) FROM events WHERE value >= 150) ft,
                            (SELECT count(*) FROM events) bt)
        SELECT fg.k, fg.c, bg.c,
               (fg.c*1.0/ft - bg.c*1.0/bt) * ((fg.c*1.0/ft)/(bg.c*1.0/bt)) s
        FROM fg JOIN bg USING (k), tot
        WHERE fg.c*1.0/ft > bg.c*1.0/bt
        ORDER BY s DESC, fg.k ASC
    """).fetchall()
    buckets = r["aggregations"]["sig"]["buckets"]
    assert [(b["key"], b["doc_count"], b["bg_count"]) for b in buckets] == \
        [(k, fc, bc) for k, fc, bc, _ in rows]
    for b, (_, _, _, s) in zip(buckets, rows):
        assert math.isclose(b["score"], s, rel_tol=1e-9)


def test_top_hits_top_level_rejected(engine):
    with pytest.raises(ValueError, match="sub-aggregation of `terms`"):
        engine.search("events", {"size": 0, "aggs": {
            "h": {"top_hits": {"size": 2, "sort": [{"value": "desc"}]}}}})


def test_scroll_full_walk(engine, duck):
    """Scroll walks the whole filtered set exactly once, in id order,
    every page a cursor (search_after) — no offset scans."""
    exp = [r[0] for r in duck.execute(
        "SELECT event_id FROM events WHERE event_type = 'click' "
        "ORDER BY event_id"
    ).fetchall()]
    r = engine.scroll_search(
        "events", {"query": {"term": {"event_type": "click"}}, "size": 60}
    )
    sid = r["_scroll_id"]
    got = [int(h["_id"]) for h in r["hits"]["hits"]]
    while True:
        r = engine.scroll(sid)
        page = r["hits"]["hits"]
        if not page:
            break
        got.extend(int(h["_id"]) for h in page)
    assert got == exp
    assert engine.clear_scroll(sid) == {"succeeded": True, "num_freed": 1}
    with pytest.raises(ValueError, match="unknown or cleared"):
        engine.scroll(sid)


def test_scroll_custom_sort(engine, duck):
    exp = [r[0] for r in duck.execute(
        "SELECT event_id FROM events ORDER BY value DESC, event_id ASC "
        "LIMIT 40"
    ).fetchall()]
    r = engine.scroll_search(
        "events", {"sort": [{"value": "desc"}, {"event_id": "asc"}],
                   "size": 10})
    sid = r["_scroll_id"]
    got = [int(h["_id"]) for h in r["hits"]["hits"]]
    for _ in range(3):
        got.extend(int(h["_id"]) for h in engine.scroll(sid)["hits"]["hits"])
    assert got == exp
    engine.clear_scroll(sid)


def test_significant_text_vs_duckdb(engine, duck):
    """significant_text: foreground re-tokenized from hits, background
    df straight from the index's term_stats — JLH arithmetic vs a
    DuckDB reformulation over the same corpus."""
    r = engine.search("docs", {
        "query": {"range": {"n_chars": {"gte": 400}}},
        "size": 0,
        "aggs": {"sig": {"significant_text": {
            "field": "text", "size": 15, "min_doc_count": 2}}},
    })
    rows = duck.execute("""
        WITH fgd AS (SELECT doc_id, text FROM documents WHERE n_chars >= 400),
        fg AS (SELECT term, count(*) AS c FROM (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM fgd))
          GROUP BY 1),
        bg AS (SELECT term, count(*) AS c FROM (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)) GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM fgd) AS ft,
                       (SELECT count(*) FROM documents) AS bt)
        SELECT fg.term, fg.c, bg.c,
               (fg.c*1.0/ft - bg.c*1.0/bt) * ((fg.c*1.0/ft)/(bg.c*1.0/bt)) AS s
        FROM fg JOIN bg USING (term), tot
        WHERE fg.c >= 2 AND fg.c*1.0/ft > bg.c*1.0/bt
        ORDER BY s DESC, fg.term ASC LIMIT 15
    """).fetchall()
    buckets = r["aggregations"]["sig"]["buckets"]
    assert [(b["key"], b["doc_count"], b["bg_count"]) for b in buckets] == \
        [(t, fc, bc) for t, fc, bc, _ in rows]
    for b, (_, _, _, s) in zip(buckets, rows):
        assert math.isclose(b["score"], s, rel_tol=1e-9)
    assert len(buckets) > 0


def test_significant_text_validation(engine):
    with pytest.raises(ValueError, match="not the indexed text field"):
        engine.search("docs", {"size": 0, "aggs": {"s": {
            "significant_text": {"field": "lang"}}}})
    with pytest.raises(ValueError, match="full-text-indexed"):
        engine.search("events", {"size": 0, "aggs": {"s": {
            "significant_text": {"field": "text"}}}})


def test_term_suggest_vs_duckdb(engine, duck):
    """Suggester candidates == DuckDB levenshtein over the corpus
    vocabulary with the same (dist, freq desc, term) ranking."""
    r = engine.search("docs", {"size": 0, "suggest": {"fix": {
        "text": "spak",
        "term": {"field": "text", "size": 5, "max_edits": 2,
                 "prefix_length": 1, "suggest_mode": "always"}}}})
    entries = r["suggest"]["fix"]
    assert len(entries) == 1 and entries[0]["text"] == "spak"
    got = [(o["text"], o["freq"]) for o in entries[0]["options"]]
    exp = duck.execute("""
        WITH vocab AS (SELECT term, count(*) AS df FROM (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)) GROUP BY 1)
        SELECT term, df FROM vocab
        WHERE term LIKE 's%' AND term != 'spak'
          AND abs(length(term) - 4) <= 2
          AND levenshtein(term, 'spak') <= 2
        ORDER BY levenshtein(term, 'spak') ASC, df DESC, term ASC LIMIT 5
    """).fetchall()
    assert got == [(t, int(f)) for t, f in exp]
    assert len(got) > 0
    # scores are normalized similarity in (0, 1]
    for o in entries[0]["options"]:
        assert 0 < o["score"] <= 1


def test_term_suggest_missing_mode(engine):
    """suggest_mode=missing (default): in-vocabulary tokens get no
    options, misspelled ones do."""
    r = engine.search("docs", {"size": 0, "suggest": {"s": {
        "text": "spark spak",
        "term": {"field": "text"}}}})
    entries = r["suggest"]["s"]
    assert [e["text"] for e in entries] == ["spark", "spak"]
    assert entries[0]["options"] == []          # 'spark' exists
    assert len(entries[1]["options"]) > 0        # 'spak' does not
    assert entries[1]["offset"] == 6 and entries[1]["length"] == 4


def test_analyze_api(engine):
    r = engine.analyze({"text": "Café du MONDE, 42!"})
    toks = [t["token"] for t in r["tokens"]]
    assert toks == ["cafe", "du", "monde", "42"]
    assert [t["position"] for t in r["tokens"]] == [0, 1, 2, 3]
    assert r["tokens"][0]["start_offset"] == 0
    assert r["tokens"][0]["end_offset"] == 4


def test_index_stats(engine, duck):
    r = engine.index_stats("events")
    n = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert r["indices"]["events"]["primaries"]["docs"]["count"] == n
    # docs index has a built full-text index on disk
    r2 = engine.index_stats("docs")
    assert r2["indices"]["docs"]["primaries"]["store"]["size_in_bytes"] > 0
    r_all = engine.index_stats()
    assert r_all["_all"]["primaries"]["docs"]["count"] >= n


def test_function_score_fulltext_multiply(engine):
    """function_score(field_value_factor) over a match query: per-doc
    score == bm25 x weight x log10(1 + factor x n_chars)."""
    base = engine.search("docs", {"query": {"match": {"text": "spark"}},
                                  "size": 10000})
    chars = {h["_id"]: h["_source"]["n_chars"] for h in base["hits"]["hits"]}
    s0 = {h["_id"]: h["_score"] for h in base["hits"]["hits"]}
    r = engine.search("docs", {
        "query": {"function_score": {
            "query": {"match": {"text": "spark"}},
            "field_value_factor": {"field": "n_chars", "factor": 0.5,
                                   "modifier": "log1p", "missing": 1},
            "weight": 2.0, "boost_mode": "multiply"}},
        "size": 10000, "track_total_hits": True,
    })
    assert r["hits"]["total"]["value"] == len(s0)
    for h in r["hits"]["hits"]:
        i = h["_id"]
        exp = s0[i] * 2.0 * math.log10(1 + 0.5 * chars[i])
        assert math.isclose(h["_score"], exp, rel_tol=1e-9), i


def test_function_score_relational_replace(engine, duck):
    """Relational inner query scores 1.0; replace mode ranks purely by
    the function value."""
    r = engine.search("events", {
        "query": {"function_score": {
            "query": {"term": {"event_type": "error"}},
            "field_value_factor": {"field": "value", "modifier": "none"},
            "boost_mode": "replace"}},
        "size": 5,
    })
    exp = duck.execute(
        "SELECT event_id, value FROM events WHERE event_type = 'error' "
        "ORDER BY value DESC, event_id ASC LIMIT 5"
    ).fetchall()
    assert [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]] == \
        [(i, v) for i, v in exp]


def test_function_score_validation(engine):
    with pytest.raises(ValueError, match="field_value_factor"):
        engine.search("events", {"query": {"function_score": {
            "query": {"match_all": {}}, "random_score": {}}}})
    with pytest.raises(ValueError, match="modifier"):
        engine.search("events", {"query": {"function_score": {
            "query": {"match_all": {}},
            "field_value_factor": {"field": "value", "modifier": "exp"}}},
            "size": 1})


def test_terms_agg_missing_and_metric_missing(spark, duck):
    """ES `missing`: terms buckets null keys under the substitute, and
    metric aggs substitute instead of dropping null values."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "a", None), (4, "b", 40.0)],
        "id long, g string, v double",
    )
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("t", df, id_col="id")
    r = e.search("t", {"size": 0, "aggs": {
        "by": {"terms": {"field": "g", "missing": "N/A", "size": 10},
               "aggs": {"m": {"avg": {"field": "v", "missing": 0}}}},
        "tot": {"sum": {"field": "v", "missing": 0}},
    }})
    got = {b["key"]: (b["doc_count"], b["m"]["value"])
           for b in r["aggregations"]["by"]["buckets"]}
    assert got == {"a": (2, 5.0), "N/A": (1, 20.0), "b": (1, 40.0)}
    assert r["aggregations"]["tot"]["value"] == 70.0
    # without missing: null key drops, null values excluded from avg
    r2 = e.search("t", {"size": 0, "aggs": {
        "by": {"terms": {"field": "g", "size": 10},
               "aggs": {"m": {"avg": {"field": "v"}}}}}})
    got2 = {b["key"]: (b["doc_count"], b["m"]["value"])
            for b in r2["aggregations"]["by"]["buckets"]}
    assert got2 == {"a": (2, 10.0), "b": (1, 40.0)}


def test_global_agg(engine, duck):
    """`global` sub-aggs ignore the query — whole-index totals beside
    filtered hits (the faceted-search pattern)."""
    r = engine.search("events", {
        "query": {"term": {"event_type": "error"}},
        "size": 0, "track_total_hits": True,
        "aggs": {
            "all": {"global": {}, "aggs": {"m": {"avg": {"field": "value"}},
                                           "n": {"value_count": {"field": "value"}}}},
            "filtered_avg": {"avg": {"field": "value"}},
        },
    })
    n_all, avg_all = duck.execute(
        "SELECT count(*), avg(value) FROM events").fetchone()
    avg_err = duck.execute(
        "SELECT avg(value) FROM events WHERE event_type = 'error'"
    ).fetchone()[0]
    g = r["aggregations"]["all"]
    assert g["doc_count"] == n_all
    assert math.isclose(g["m"]["value"], avg_all, rel_tol=1e-9)
    assert g["n"]["value"] == n_all
    assert math.isclose(r["aggregations"]["filtered_avg"]["value"], avg_err,
                        rel_tol=1e-9)
    assert r["hits"]["total"]["value"] < n_all  # the query still filtered hits


def test_match_boost(engine):
    """Per-clause boost multiplies the clause's BM25 contribution."""
    base = engine.search("docs", {"query": {"match": {"text": "spark"}},
                                  "size": 10000})
    s0 = {h["_id"]: h["_score"] for h in base["hits"]["hits"]}
    r = engine.search("docs", {
        "query": {"match": {"text": {"query": "spark", "boost": 3.0}}},
        "size": 10000})
    got = {h["_id"]: h["_score"] for h in r["hits"]["hits"]}
    assert set(got) == set(s0)
    for i, v in got.items():
        assert math.isclose(v, 3.0 * s0[i], rel_tol=1e-9)
    # boosted should-clauses shift the blend
    r2 = engine.search("docs", {
        "query": {"bool": {"should": [
            {"match": {"text": {"query": "spark", "boost": 2.0}}},
            {"match": {"text": "data"}}]}},
        "size": 10000, "track_total_hits": True})
    d0 = engine.search("docs", {"query": {"match": {"text": "data"}},
                                "size": 10000})
    sd = {h["_id"]: h["_score"] for h in d0["hits"]["hits"]}
    for h in r2["hits"]["hits"]:
        exp = 2.0 * s0.get(h["_id"], 0.0) + sd.get(h["_id"], 0.0)
        assert math.isclose(h["_score"], exp, rel_tol=1e-9)


def test_source_filtering_and_score_sort(engine):
    r = engine.search("events", {
        "query": {"term": {"event_type": "error"}},
        "_source": ["event_id", "value"], "size": 5})
    for h in r["hits"]["hits"]:
        assert set(h["_source"]) == {"event_id", "value"}
    r2 = engine.search("events", {
        "query": {"term": {"event_type": "error"}},
        "_source": False, "size": 5})
    assert all("_source" not in h for h in r2["hits"]["hits"])
    # sort by _score explicitly == default scored order
    a = engine.search("docs", {"query": {"match": {"text": "spark"}},
                               "size": 20})
    b = engine.search("docs", {"query": {"match": {"text": "spark"}},
                               "sort": [{"_score": "desc"},
                                        {"doc_id": "asc"}], "size": 20})
    assert [h["_id"] for h in b["hits"]["hits"]] == \
        [h["_id"] for h in a["hits"]["hits"]]
    with pytest.raises(ValueError, match="_score"):
        engine.search("events", {"sort": [{"_score": "desc"}], "size": 1})


def test_date_range_agg(engine, duck):
    """from-incl / to-excl over a timestamp column, epoch-millis and
    RFC3339 bounds both honored."""
    lo, hi = 1704067200000, 1704100000000
    r = engine.search("events", {"size": 0, "aggs": {"dr": {
        "date_range": {"field": "ts", "ranges": [
            {"to": lo, "key": "early"},
            {"from": lo, "to": hi, "key": "mid"},
            {"from": "2024-01-01T09:06:40", "key": "late"},
        ]}}}})
    early, mid, late = duck.execute(
        "SELECT sum(CASE WHEN ts < to_timestamp(?/1000.0) THEN 1 ELSE 0 END),"
        " sum(CASE WHEN ts >= to_timestamp(?/1000.0) AND ts < to_timestamp(?/1000.0) THEN 1 ELSE 0 END),"
        " sum(CASE WHEN ts >= TIMESTAMP '2024-01-01 09:06:40' THEN 1 ELSE 0 END)"
        " FROM events", [lo, lo, hi],
    ).fetchone()
    got = {b["key"]: b["doc_count"] for b in r["aggregations"]["dr"]["buckets"]}
    assert got == {"early": early or 0, "mid": mid, "late": late}
    assert [b["key"] for b in r["aggregations"]["dr"]["buckets"]] == \
        ["early", "mid", "late"]  # request order kept


def test_rare_terms_agg(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"rare": {
        "rare_terms": {"field": "user_id", "max_doc_count": 60}}}})
    exp = duck.execute(
        "SELECT user_id, count(*) c FROM events GROUP BY 1 "
        "HAVING c <= 60 ORDER BY c, user_id"
    ).fetchall()
    got = [(int(b["key"]), b["doc_count"])
           for b in r["aggregations"]["rare"]["buckets"]]
    assert got == [(u, int(c)) for u, c in exp]
    assert len(got) > 0


def test_composite_date_histogram_source(engine, duck):
    """composite with a date_histogram source pages day buckets x
    event_type in key order; full walk == the oracle GROUP BY."""
    exp = duck.execute(
        "SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) d,"
        " event_type t, count(*) FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    walked, after = [], None
    while True:
        comp = {"size": 4, "sources": [
            {"d": {"date_histogram": {"field": "ts",
                                      "calendar_interval": "day"}}},
            {"t": {"terms": {"field": "event_type"}}},
        ]}
        if after is not None:
            comp["after"] = after
        r = engine.search("events", {"size": 0,
                                     "aggs": {"c": {"composite": comp}}})
        buckets = r["aggregations"]["c"]["buckets"]
        if not buckets:
            break
        walked.extend((b["key"]["d"], b["key"]["t"], b["doc_count"])
                      for b in buckets)
        after = r["aggregations"]["c"]["after_key"]
    assert walked == [(d, t, int(n)) for d, t, n in exp]


def test_composite_histogram_source(engine, duck):
    exp = duck.execute(
        "SELECT floor(value / 50) * 50 AS b, count(*) FROM events "
        "WHERE value IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()
    r = engine.search("events", {"size": 0, "aggs": {"c": {"composite": {
        "size": 100, "sources": [
            {"b": {"histogram": {"field": "value", "interval": 50}}}]}}}})
    got = [(b["key"]["b"], b["doc_count"])
           for b in r["aggregations"]["c"]["buckets"]]
    assert got == [(b, int(n)) for b, n in exp]


def test_pipeline_aggs_cumsum_derivative(engine, duck):
    """cumulative_sum and derivative over hourly buckets, paths to both
    a sibling metric and _count."""
    r = engine.search("events", {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {
            "m": {"sum": {"field": "value"}},
            "cum": {"cumulative_sum": {"buckets_path": "m"}},
            "dcount": {"derivative": {"buckets_path": "_count"}},
        }}}})
    exp = duck.execute("""
        WITH b AS (SELECT CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) k,
                          count(*) c, sum(value) s
                   FROM events GROUP BY 1)
        SELECT k, c, s,
               sum(s) OVER (ORDER BY k) cum,
               c - lag(c) OVER (ORDER BY k) d
        FROM b ORDER BY k
    """).fetchall()
    buckets = r["aggregations"]["h"]["buckets"]
    assert len(buckets) == len(exp) > 2
    for b, (k, c, s, cum, dd) in zip(buckets, exp):
        assert b["key"] == k and b["doc_count"] == c
        assert math.isclose(b["cum"]["value"], cum, rel_tol=1e-9)
        if dd is None:
            assert b["dcount"]["value"] is None
        else:
            assert math.isclose(b["dcount"]["value"], float(dd), rel_tol=1e-9)


def test_pipeline_aggs_validation(engine):
    with pytest.raises(ValueError, match="buckets_path"):
        engine.search("events", {"size": 0, "aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1h"},
            "aggs": {"cum": {"cumulative_sum": {"buckets_path": "nope"}}}}}})


def test_bucket_script_and_selector(engine, duck):
    """bucket_script computes a per-bucket expression from sibling
    metrics; bucket_selector then filters buckets on another script."""
    r = engine.search("events", {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {
            "s": {"sum": {"field": "value"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"tot": "s", "cnt": "_count"},
                "script": "params.tot / params.cnt"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"cnt": "_count"},
                "script": "params.cnt > 3"}},
        }}}})
    exp = duck.execute("""
        SELECT CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) k,
               count(*) c, sum(value) / count(*) per_doc
        FROM events GROUP BY 1 HAVING count(*) > 3 ORDER BY k
    """).fetchall()
    buckets = r["aggregations"]["h"]["buckets"]
    assert len(buckets) == len(exp) > 0
    for b, (k, c, pd) in zip(buckets, exp):
        assert b["key"] == k and b["doc_count"] == c
        assert math.isclose(b["per_doc"]["value"], pd, rel_tol=1e-9)


def test_bucket_script_rejects_unsafe(engine):
    with pytest.raises(ValueError, match="unsupported script"):
        engine.search("events", {"size": 0, "aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1h"},
            "aggs": {"x": {"bucket_script": {
                "buckets_path": {"c": "_count"},
                "script": "__import__('os')"}}}}}})
    with pytest.raises(ValueError, match="params.nope"):
        engine.search("events", {"size": 0, "aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1h"},
            "aggs": {"x": {"bucket_script": {
                "buckets_path": {"c": "_count"},
                "script": "params.nope + 1"}}}}}})


def test_moving_fn_and_serial_diff(engine, duck):
    """moving_fn default shift=0 windows the `window` buckets BEFORE the
    current one; serial_diff subtracts the lag-th previous value."""
    r = engine.search("events", {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {
            "mov": {"moving_fn": {
                "buckets_path": "_count", "window": 3,
                "script": "MovingFunctions.sum(values)"}},
            "sd": {"serial_diff": {"buckets_path": "_count", "lag": 2}},
        }}}})
    exp = duck.execute("""
        WITH b AS (SELECT CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) k,
                          count(*) c FROM events GROUP BY 1)
        SELECT k, c,
               sum(c) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) mov,
               c - lag(c, 2) OVER (ORDER BY k) sd
        FROM b ORDER BY k
    """).fetchall()
    buckets = r["aggregations"]["h"]["buckets"]
    assert len(buckets) == len(exp) > 3
    for b, (k, c, mov, sd) in zip(buckets, exp):
        assert b["key"] == k and b["doc_count"] == c
        for label, want in (("mov", mov), ("sd", sd)):
            if want is None:
                assert b[label]["value"] is None
            else:
                assert math.isclose(b[label]["value"], float(want), rel_tol=1e-9)


def test_bucket_sort_under_terms(engine, duck):
    """the classic 'order terms buckets by a metric, keep top 2'."""
    r = engine.search("events", {"size": 0, "aggs": {"t": {
        "terms": {"field": "event_type", "size": 100},
        "aggs": {
            "av": {"avg": {"field": "value"}},
            "top": {"bucket_sort": {
                "sort": [{"av": {"order": "desc"}}], "size": 2}},
        }}}})
    exp = duck.execute("""
        SELECT event_type, count(*) c, avg(value) av FROM events
        WHERE event_type IS NOT NULL
        GROUP BY 1 ORDER BY av DESC LIMIT 2
    """).fetchall()
    buckets = r["aggregations"]["t"]["buckets"]
    assert [(b["key"], b["doc_count"]) for b in buckets] == \
        [(k, int(c)) for k, c, _ in exp]
    for b, (_, _, av) in zip(buckets, exp):
        assert math.isclose(b["av"]["value"], av, rel_tol=1e-9)


def test_sibling_bucket_aggs(engine, duck):
    """avg/sum/min/max/stats_bucket reduce a sibling histogram's metric
    (or _count) across all buckets."""
    r = engine.search("events", {"size": 0, "aggs": {
        "h": {"date_histogram": {"field": "ts", "fixed_interval": "1h"},
              "aggs": {"s": {"sum": {"field": "value"}}}},
        "avg_s": {"avg_bucket": {"buckets_path": "h>s"}},
        "max_c": {"max_bucket": {"buckets_path": "h>_count"}},
        "sum_s": {"sum_bucket": {"buckets_path": "h>s"}},
        "st": {"stats_bucket": {"buckets_path": "h>s"}},
    }})
    exp = duck.execute("""
        WITH b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) k,
                          count(*) c, sum(value) s FROM events GROUP BY 1)
        SELECT avg(s), max(c), sum(s), count(s), min(s), max(s) FROM b
    """).fetchone()
    a = r["aggregations"]
    assert math.isclose(a["avg_s"]["value"], exp[0], rel_tol=1e-9)
    assert a["max_c"]["value"] == float(exp[1])
    assert math.isclose(a["sum_s"]["value"], exp[2], rel_tol=1e-9)
    st = a["st"]
    assert st["count"] == exp[3]
    assert math.isclose(st["min"], exp[4], rel_tol=1e-9)
    assert math.isclose(st["max"], exp[5], rel_tol=1e-9)


def test_sibling_bucket_validation(engine):
    with pytest.raises(ValueError, match="unknown sibling"):
        engine.search("events", {"size": 0, "aggs": {
            "x": {"avg_bucket": {"buckets_path": "nope>m"}}}})
    with pytest.raises(ValueError, match="must be"):
        engine.search("events", {"size": 0, "aggs": {
            "h": {"date_histogram": {"field": "ts", "fixed_interval": "1h"}},
            "x": {"avg_bucket": {"buckets_path": "h"}}}})


def test_weighted_avg_and_extended_stats(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {
        "wa": {"weighted_avg": {"value": {"field": "value"},
                                "weight": {"field": "user_id"}}},
        "es": {"extended_stats": {"field": "value"}},
        "by": {"terms": {"field": "event_type", "size": 10},
               "aggs": {"w": {"weighted_avg": {
                   "value": {"field": "value"},
                   "weight": {"field": "user_id"}}}}},
    }})
    wa, var, sd, ssq = duck.execute(
        "SELECT sum(value * user_id) / sum(user_id), var_pop(value),"
        " stddev_pop(value), sum(value * value) FROM events"
    ).fetchone()
    assert math.isclose(r["aggregations"]["wa"]["value"], wa, rel_tol=1e-9)
    es = r["aggregations"]["es"]
    assert math.isclose(es["variance"], var, rel_tol=1e-9)
    assert math.isclose(es["std_deviation"], sd, rel_tol=1e-9)
    assert math.isclose(es["sum_of_squares"], ssq, rel_tol=1e-9)
    per = {t: v for t, v in duck.execute(
        "SELECT event_type, sum(value * user_id) / sum(user_id) "
        "FROM events GROUP BY 1").fetchall()}
    for b in r["aggregations"]["by"]["buckets"]:
        assert math.isclose(b["w"]["value"], per[b["key"]], rel_tol=1e-9)


def test_dotted_path_and_nested_on_typed_columns(spark):
    """Dotted paths over TYPED struct / array<struct> columns: struct
    field access, ES object-array flattening for bare dotted terms, and
    per-element co-match under `nested`."""
    df = spark.createDataFrame(
        [
            (1, ("svc-a",), [("env", "prod"), ("region", "eu")]),
            (2, ("svc-b",), [("env", "dev"), ("region", "us")]),
            (3, ("svc-a",), []),
            (4, ("svc-c",), [("env", "prod"), ("region", "us")]),
        ],
        "id long, process struct<serviceName:string>, "
        "tags array<struct<key:string,value:string>>",
    )
    e = Engine(spark)
    e.create_index("typed_idx", df, id_col="id")

    def ids(body):
        r = e.search("typed_idx", {**body, "size": 100, "track_total_hits": True})
        return sorted(h["_source"]["id"] for h in r["hits"]["hits"])

    # struct dotted scalar
    assert ids({"query": {"term": {"process.serviceName": "svc-a"}}}) == [1, 3]
    # flattened term across array elements (no nested): any element matches
    assert ids({"query": {"term": {"tags.value": "prod"}}}) == [1, 4]
    # nested co-match: key AND value must sit in the SAME element
    assert ids({"query": {"nested": {"path": "tags", "query": {"bool": {"must": [
        {"term": {"tags.key": "env"}}, {"term": {"tags.value": "prod"}},
    ]}}}}}) == [1, 4]
    # flattening alone would also match doc 2 here; nested must not
    assert ids({"query": {"nested": {"path": "tags", "query": {"bool": {"must": [
        {"term": {"tags.key": "env"}}, {"term": {"tags.value": "us"}},
    ]}}}}}) == []
    # but the un-nested flattened bool DOES match cross-element (ES parity)
    assert ids({"query": {"bool": {"must": [
        {"term": {"tags.key": "env"}}, {"term": {"tags.value": "us"}},
    ]}}}) == [2, 4]
    # exists on the array path: any element present
    assert ids({"query": {"exists": {"field": "tags"}}}) == [1, 2, 4]
    # must_not with nested (exists-style exclusion)
    assert ids({"query": {"bool": {"must_not": [
        {"nested": {"path": "tags", "query": {"term": {"tags.key": "env"}}}},
    ]}}}) == [3]
    # nested AGGREGATION: facet over array elements (one row per
    # element), sub-agg fields addressed by full path
    r = e.search("typed_idx", {"size": 0, "aggs": {"t": {
        "nested": {"path": "tags"},
        "aggs": {"vals": {"terms": {"field": "tags.value", "size": 10}}},
    }}})
    agg = r["aggregations"]["t"]
    assert agg["doc_count"] == 6  # total elements across docs 1, 2, 4
    got = {b["key"]: b["doc_count"] for b in agg["vals"]["buckets"]}
    assert got == {"prod": 2, "us": 2, "dev": 1, "eu": 1}
    # nested agg composed under a query filter
    r2 = e.search("typed_idx", {
        "query": {"term": {"process.serviceName": "svc-a"}},
        "size": 0, "aggs": {"t": {
            "nested": {"path": "tags"},
            "aggs": {"keys": {"terms": {"field": "tags.key", "size": 10}}},
        }}})
    agg2 = r2["aggregations"]["t"]
    assert agg2["doc_count"] == 2  # only doc 1 has tags among svc-a docs
    assert {b["key"]: b["doc_count"] for b in agg2["keys"]["buckets"]} == {
        "env": 1, "region": 1}


def test_weighted_avg_skips_null_values(spark):
    """ADVICE r4: a doc with a null value but non-null weight must not
    contribute its weight to the denominator (ES skips docs missing the
    value field entirely)."""
    df = spark.createDataFrame(
        [(1, 2.0, 10.0), (2, None, 100.0), (3, 4.0, 30.0)],
        "id long, v double, w double",
    )
    e = Engine(spark)
    e.create_index("wa_idx", df)
    r = e.search("wa_idx", {"size": 0, "aggs": {
        "wa": {"weighted_avg": {"value": {"field": "v"},
                                "weight": {"field": "w"}}}}})
    # (2*10 + 4*30) / (10 + 30) — the null-v doc's weight 100 excluded
    assert math.isclose(r["aggregations"]["wa"]["value"], 140.0 / 40.0, rel_tol=1e-12)


def test_search_after_null_cursor_rejected(engine):
    """ADVICE r4: a null cursor value silently drops every row at that
    prefix; reject loudly instead."""
    with pytest.raises(ValueError, match="null"):
        engine.search("events", {
            "sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}],
            "search_after": [None, 5],
            "size": 5,
        })


def test_dis_max_filter_context_branch_scoring(engine):
    """Review fix: a branch's bool.filter clause restricts membership
    but must NOT leak BM25 into the branch score."""
    s_spark = {h["_id"]: h["_score"] for h in engine.search(
        "docs", {"query": {"match": {"text": "spark"}}, "size": 10000}
    )["hits"]["hits"]}
    r = engine.search("docs", {
        "query": {"dis_max": {"queries": [
            {"bool": {"must": [{"match": {"text": "spark"}}],
                      "filter": [{"match": {"text": "data"}}]}},
        ]}},
        "size": 10000, "track_total_hits": True,
    })
    # membership: docs matching spark AND data; score: BM25(spark) only
    assert r["hits"]["total"]["value"] > 0
    for h in r["hits"]["hits"]:
        assert math.isclose(h["_score"], s_spark[h["_id"]], rel_tol=1e-9), h["_id"]


def test_dis_max_nested_constant_score_no_double_count(engine, duck):
    """Review fix: a constant_score nested in a branch contributes its
    boost ONCE (through the compound entry), never twice."""
    r = engine.search("events", {
        "query": {"dis_max": {"queries": [
            {"constant_score": {"filter": {"term": {"event_type": "error"}},
                                "boost": 2.0}},
        ]}},
        "size": 10000, "track_total_hits": True,
    })
    n = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'error'").fetchone()[0]
    assert r["hits"]["total"]["value"] == n
    assert all(h["_score"] == 2.0 for h in r["hits"]["hits"])


def test_source_excludes(engine):
    r = engine.search("events", {
        "query": {"term": {"event_type": "error"}},
        "_source": {"excludes": ["props", "ts"]}, "size": 3})
    for h in r["hits"]["hits"]:
        assert "props" not in h["_source"] and "ts" not in h["_source"]
        assert "event_id" in h["_source"]  # the rest is kept


def test_hits_carry_sort_values(engine):
    r = engine.search("events", {"sort": [{"value": "desc"},
                                          {"event_id": "asc"}], "size": 3})
    for h in r["hits"]["hits"]:
        assert h["sort"] == [h["_source"]["value"], h["_source"]["event_id"]]


def test_scroll_with_source_filtering_and_ties(engine, duck):
    """Review fixes: scroll survives _source filtering (cursor rides the
    per-hit sort tuple) and a non-unique user sort gets the id tiebreak
    so ties never skip."""
    exp = [r[0] for r in duck.execute(
        "SELECT event_id FROM events WHERE event_type = 'click' "
        "ORDER BY user_id ASC, event_id ASC").fetchall()]
    r = engine.scroll_search("events", {
        "query": {"term": {"event_type": "click"}},
        "sort": [{"user_id": "asc"}],  # highly non-unique
        "_source": False, "size": 30})
    sid = r["_scroll_id"]
    got = [int(h["_id"]) for h in r["hits"]["hits"]]
    while True:
        page = engine.scroll(sid)["hits"]["hits"]
        if not page:
            break
        got.extend(int(h["_id"]) for h in page)
    assert got == exp  # complete, no skips, no duplicates
    engine.clear_scroll(sid)


def test_metric_missing_on_string_field(spark):
    """Review fix: numeric `missing` on a keyword field must not null
    the real values."""
    from gopensearch_spark.dsl import Engine

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, "a")], "id long, g string")
    e = Engine(spark)
    e.create_index("t", df, id_col="id")
    r = e.search("t", {"size": 0, "aggs": {
        "c": {"cardinality": {"field": "g", "missing": "anon"}}}})
    assert r["aggregations"]["c"]["value"] == 3  # a, b, anon


def test_fuzzy_boost(engine):
    base = {h["_id"]: h["_score"] for h in engine.search(
        "docs", {"query": {"fuzzy": {"text": {"value": "spak"}}}, "size": 100}
    )["hits"]["hits"]}
    r = engine.search("docs", {
        "query": {"fuzzy": {"text": {"value": "spak", "boost": 2.5}}},
        "size": 100})
    for h in r["hits"]["hits"]:
        assert math.isclose(h["_score"], 2.5 * base[h["_id"]], rel_tol=1e-9)


def test_function_score_reciprocal_zero(spark):
    from gopensearch_spark.dsl import Engine

    df = spark.createDataFrame([(1, 0.0), (2, 2.0)], "id long, v double")
    e = Engine(spark)
    e.create_index("t", df, id_col="id")
    r = e.search("t", {"query": {"function_score": {
        "query": {"match_all": {}},
        "field_value_factor": {"field": "v", "modifier": "reciprocal"},
        "boost_mode": "replace"}}, "size": 10})
    scores = {int(h["_id"]): h["_score"] for h in r["hits"]["hits"]}
    assert scores[2] == 0.5
    assert scores[1] == float("inf")  # Lucene float semantics, not null


def test_analyze_offsets_across_array(engine):
    r = engine.analyze({"text": ["foo bar", "baz"]})
    toks = {t["token"]: (t["start_offset"], t["end_offset"]) for t in r["tokens"]}
    assert toks["foo"] == (0, 3) and toks["bar"] == (4, 7)
    assert toks["baz"] == (8, 11)  # continues past element 0 (+1 gap)


def test_derivative_across_zero_filled_gap(spark, duck):
    """Review fix: derivative skips zero-filled metric gaps (ES
    gap_policy=skip) instead of emitting nulls on both sides."""
    from gopensearch_spark.dsl import Engine

    rows = [(1, 1000, 10.0), (2, 1500, 20.0), (3, 3500, 40.0)]  # gap at 2s-3s
    df = spark.createDataFrame(rows, "id long, ts_ms long, v double")
    e = Engine(spark)
    e.create_index("t", df, id_col="id")
    r = e.search("t", {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "ts_ms", "fixed_interval": "1s",
                           "min_doc_count": 0},
        "aggs": {"m": {"sum": {"field": "v"}},
                 "d": {"derivative": {"buckets_path": "m"}}}}}})
    buckets = r["aggregations"]["h"]["buckets"]
    assert [b["doc_count"] for b in buckets] == [2, 0, 1]
    assert buckets[0]["d"]["value"] is None          # no previous
    assert buckets[1]["d"]["value"] is None          # own value is a gap
    assert buckets[2]["d"]["value"] == 40.0 - 30.0   # vs last NON-NULL
