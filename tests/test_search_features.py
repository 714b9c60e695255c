"""Round-5 search-surface features: collapse, rescore, script_fields,
runtime_mappings, multi_terms, auto_date_histogram, percentile_ranks —
value-checked against DuckDB on the same parquet and the FTS5 oracle
for the rescore two-phase ranking."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from gopensearch_spark.dsl import Engine
from gopensearch_spark.search import bm25_scores, near_match
from gopensearch_spark.search.fuzzy import fuzzy_match

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


# --- collapse -------------------------------------------------------------

def test_collapse_keeps_best_hit_per_key(engine, duck):
    body = {
        "query": {"match_all": {}},
        "collapse": {"field": "event_type"},
        "sort": [{"value": {"order": "desc"}}],
        "size": 100,
    }
    r = engine.search("events", body)
    exp = duck.execute("""
        SELECT event_id FROM (
          SELECT event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rn
          FROM events
        ) WHERE rn = 1 ORDER BY value DESC
    """).fetchall()
    assert [int(h["_source"]["event_id"]) for h in r["hits"]["hits"]] == \
        [int(x[0]) for x in exp]
    # one hit per distinct event_type
    types = [h["_source"]["event_type"] for h in r["hits"]["hits"]]
    assert len(types) == len(set(types))


def test_collapse_with_filter_and_default_order(engine, duck):
    # no sort, not scored -> collapse keeps the lowest-id hit per key
    body = {
        "query": {"range": {"value": {"gte": 100}}},
        "collapse": {"field": "user_id"},
        "size": 10000,
    }
    r = engine.search("events", body)
    exp = duck.execute("""
        SELECT count(DISTINCT user_id) FROM events WHERE value >= 100
    """).fetchone()[0]
    assert len(r["hits"]["hits"]) == exp
    first = duck.execute("""
        SELECT min(event_id) FROM events WHERE value >= 100 GROUP BY user_id
    """).fetchall()
    assert {int(h["_source"]["event_id"]) for h in r["hits"]["hits"]} == \
        {int(x[0]) for x in first}


# --- rescore --------------------------------------------------------------

def _expected_rescore(oracle, terms, phrase_expr, window, qw, rw, mode, size):
    prim = oracle.match(terms, k=100000, mode="or")
    ph = dict(oracle.match_raw(phrase_expr, k=100000))
    win = sorted(prim, key=lambda t: (-t[1], t[0]))[:window]
    out = []
    for doc_id, p in win:
        if doc_id in ph:
            a, b = qw * p, rw * ph[doc_id]
            c = {"total": a + b, "multiply": a * b, "avg": (a + b) / 2,
                 "max": max(a, b), "min": min(a, b)}[mode]
        else:
            c = qw * p
        out.append((doc_id, c))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:size]


@pytest.mark.parametrize("mode", ["total", "multiply", "max"])
def test_rescore_phrase_over_match_window(engine, oracle_small, mode):
    qw, rw, window, size = 0.7, 1.3, 30, 8
    body = {
        "query": {"match": {"text": "data"}},
        "rescore": {
            "window_size": window,
            "query": {
                "rescore_query": {"match_phrase": {"text": "spark join"}},
                "query_weight": qw,
                "rescore_query_weight": rw,
                "score_mode": mode,
            },
        },
        "size": size,
    }
    r = engine.search("docs", body)
    exp = _expected_rescore(
        oracle_small, ["data"], '"spark join"', window, qw, rw, mode, size)
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_rescore_unmatched_window_docs_keep_weighted_original(engine, oracle_small):
    # a rescore phrase that matches nothing still reweights the window
    body = {
        "query": {"match": {"text": "data"}},
        "rescore": {
            "window_size": 20,
            "query": {
                "rescore_query": {"match_phrase": {"text": "data data data data"}},
                "query_weight": 2.0,
            },
        },
        "size": 5,
    }
    r = engine.search("docs", body)
    prim = sorted(oracle_small.match(["data"], k=100000, mode="or"),
                  key=lambda t: (-t[1], t[0]))[:20]
    exp = [(d, 2.0 * s) for d, s in prim][:5]
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_rescore_rejects_sort_and_small_window(engine):
    with pytest.raises(ValueError, match="sort"):
        engine.search("docs", {
            "query": {"match": {"text": "data"}},
            "sort": [{"doc_id": {"order": "asc"}}],
            "rescore": {"window_size": 20,
                        "query": {"rescore_query": {"match_phrase": {"text": "spark join"}}}},
        })
    with pytest.raises(ValueError, match="window_size"):
        engine.search("docs", {
            "query": {"match": {"text": "data"}},
            "rescore": {"window_size": 3,
                        "query": {"rescore_query": {"match_phrase": {"text": "spark join"}}}},
            "size": 10,
        })


@pytest.mark.parametrize("rescore_query, expected", [
    ({"match_phrase": {"text": {"query": "spark join", "slop": 2}}},
     lambda spark, idx: near_match(
         spark, idx, [("term", "spark"), ("term", "join")], n=2, k=None)),
    ({"match": {"text": {"query": "dat", "fuzziness": 1}}},
     lambda spark, idx: fuzzy_match(spark, idx, "dat", fuzziness="1", k=None)),
    ({"match": {"text": {"query": "join", "boost": 3.0}}},
     lambda spark, idx: bm25_scores(spark, idx, "join").withColumn(
         "score", F.col("score") * 3.0)),
], ids=["phrase_slop", "fuzziness", "boost"])
def test_rescore_leaf_scores_like_the_primary_query(
        spark, engine, index_small, rescore_query, expected):
    """A rescore query scores as it would as a primary query: slop is
    NEAR, fuzziness expands, boost multiplies. With query_weight 0 a
    window hit's score is its rescore score."""
    body = {"query": {"match": {"text": "spark join data"}}, "size": 60,
            "rescore": {"window_size": 60, "query": {
                "rescore_query": rescore_query, "query_weight": 0.0}}}
    got = {int(h["_id"]): h["_score"] for h in engine.search("docs", body)["hits"]["hits"]}
    rel = {int(r["doc_id"]): r["score"] for r in expected(spark, index_small).collect()}
    exp = {d: rel.get(d, 0.0) for d in got}
    assert len(got) == 60 and any(exp.values())
    assert got == pytest.approx(exp, rel=1e-9, abs=1e-12)


def test_runtime_field_inside_function_score_query(engine, duck):
    """Runtime fields exist before the compile: a function_score's inner
    query (compiled by the Engine, not the compiler) resolves them."""
    body = {
        "query": {"function_score": {
            "query": {"range": {"vk": {"gte": 1}}},
            "field_value_factor": {"field": "vk"},
            "boost_mode": "replace",
        }},
        "runtime_mappings": {"vk": {"script": "doc['user_id'].value % 3"}},
        "track_total_hits": True,
        "size": 5,
    }
    r = engine.search("events", body)
    n = duck.execute("SELECT count(*) FROM events WHERE fmod(user_id, 3) >= 1").fetchone()[0]
    assert r["hits"]["total"]["value"] == n > 0
    assert [h["_score"] for h in r["hits"]["hits"]] == [2.0] * 5


# --- script_fields / runtime_mappings --------------------------------------

def test_script_fields_computed_and_source_suppressed(engine, duck):
    body = {
        "query": {"term": {"event_type": "error"}},
        "script_fields": {
            "boosted": {"script": {"source": "doc['value'].value * 2 + 1"}},
        },
        "sort": [{"event_id": {"order": "asc"}}],
        "size": 5,
    }
    r = engine.search("events", body)
    exp = duck.execute("""
        SELECT value * 2 + 1 FROM events WHERE event_type = 'error'
        ORDER BY event_id ASC LIMIT 5
    """).fetchall()
    got = [h["fields"]["boosted"][0] for h in r["hits"]["hits"]]
    assert got == pytest.approx([x[0] for x in exp])
    # ES: _source suppressed when script_fields present and not requested
    assert all("_source" not in h for h in r["hits"]["hits"])


def test_script_fields_with_explicit_source(engine):
    body = {
        "query": {"match_all": {}},
        "script_fields": {"x": {"script": "doc['value'].value % 7"}},
        "_source": ["event_type"],
        "size": 3,
    }
    r = engine.search("events", body)
    for h in r["hits"]["hits"]:
        assert set(h["_source"]) == {"event_type"}
        assert "x" in h["fields"]


def test_runtime_mapping_queryable_and_sortable(engine, duck):
    body = {
        "query": {"range": {"v10": {"gte": 1500}}},
        "runtime_mappings": {
            "v10": {"type": "double", "script": "doc['value'].value * 10"},
        },
        "sort": [{"v10": {"order": "desc"}}],
        "size": 10000,
    }
    r = engine.search("events", body)
    exp = duck.execute("""
        SELECT event_id FROM events WHERE value * 10 >= 1500
        ORDER BY value * 10 DESC
    """).fetchall()
    assert [int(h["_source"]["event_id"]) for h in r["hits"]["hits"]] == \
        [int(x[0]) for x in exp]


def test_runtime_mapping_aggregatable(engine, duck):
    body = {
        "size": 0,
        "runtime_mappings": {"vk": {"script": "doc['user_id'].value % 3"}},
        "aggs": {"t": {"terms": {"field": "vk", "size": 100}}},
    }
    r = engine.search("events", body)
    exp = dict(duck.execute(
        "SELECT fmod(user_id, 3), count(*) FROM events GROUP BY 1"
    ).fetchall())
    got = {float(b["key"]): b["doc_count"]
           for b in r["aggregations"]["t"]["buckets"]}
    assert got == {float(k): v for k, v in exp.items()}


def test_doc_script_rejects_unsafe(engine):
    with pytest.raises(ValueError):
        engine.search("events", {
            "script_fields": {"x": {"script": "__import__('os')"}},
            "size": 1,
        })


# --- multi_terms / auto_date_histogram / percentile_ranks ------------------

def test_multi_terms_two_field_buckets(engine, duck):
    body = {"size": 0, "aggs": {"mt": {
        "multi_terms": {
            "terms": [{"field": "event_type"}, {"field": "user_id"}],
            "size": 7,
        },
        "aggs": {"v": {"avg": {"field": "value"}}},
    }}}
    r = engine.search("events", body)
    exp = duck.execute("""
        SELECT event_type || '|' || CAST(user_id AS VARCHAR) AS key,
               count(*) AS doc_count, avg(value) AS v
        FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 7
    """).fetchall()
    got = r["aggregations"]["mt"]["buckets"]
    assert [(b["key"], b["doc_count"]) for b in got] == \
        [(k, int(c)) for k, c, _ in exp]
    assert [b["v"]["value"] for b in got] == pytest.approx([v for _, _, v in exp])


def test_auto_date_histogram_fits_target_buckets(engine, duck):
    body = {"size": 0, "aggs": {"ah": {
        "auto_date_histogram": {"field": "ts", "buckets": 12},
    }}}
    r = engine.search("events", body)
    buckets = r["aggregations"]["ah"]["buckets"]
    assert 0 < len(buckets) <= 12
    total = duck.execute("SELECT count(*) FROM events WHERE ts IS NOT NULL").fetchone()[0]
    assert sum(b["doc_count"] for b in buckets) == total
    # keys are aligned epoch-millis on a single ladder interval
    keys = [int(b["key"]) for b in buckets]
    assert keys == sorted(keys)
    lo, hi = duck.execute(
        "SELECT epoch_ms(min(ts)), epoch_ms(max(ts)) FROM events").fetchone()
    from gopensearch_spark.dsl.aggs import _auto_dh_interval, fixed_interval_ms
    fixed, cal = _auto_dh_interval(int(lo), int(hi), 12)
    assert fixed, "sf0.001 events span should pick a fixed ladder step"
    iv = fixed_interval_ms(fixed)
    assert all(k % iv == 0 for k in keys)
    exp = duck.execute(f"""
        SELECT CAST(floor(epoch_ms(ts) / {iv}) * {iv} AS BIGINT) AS key, count(*)
        FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1
    """).fetchall()
    assert [(k, b["doc_count"]) for k, b in zip(keys, buckets)] == \
        [(int(k), int(c)) for k, c in exp]


def test_percentile_ranks_exact(engine, duck):
    body = {"size": 0, "aggs": {"pr": {
        "percentile_ranks": {"field": "value", "values": [50.0, 150.0]},
    }}}
    r = engine.search("events", body)
    vals = r["aggregations"]["pr"]["values"]
    for v in (50.0, 150.0):
        exp = duck.execute(
            "SELECT 100.0 * avg(CASE WHEN value <= ? THEN 1.0 ELSE 0.0 END) "
            "FROM events WHERE value IS NOT NULL", [v],
        ).fetchone()[0]
        assert vals[str(v)] == pytest.approx(exp)


# --- more_like_this ---------------------------------------------------------

MLT_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
lt AS (SELECT unnest(string_split('{like}', ' ')) AS term),
ltf AS (SELECT term, count(*) AS tf FROM lt GROUP BY 1),
cand AS (
  SELECT l.term FROM ltf l JOIN dfs d USING (term)
  WHERE l.tf >= {min_tf} AND d.df >= {min_df}
),
m AS (SELECT (30 * count(*)) // 100 AS req FROM cand),
scored AS (
  SELECT tf.doc_id,
    (CASE WHEN ln((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) > 0
          THEN ln((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) ELSE 1e-6 END)
    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS contrib
  FROM tf JOIN cand USING (term) JOIN dfs USING (term)
  JOIN dl USING (doc_id) CROSS JOIN stats s
),
agg AS (SELECT doc_id, sum(contrib) AS score, count(*) AS nt FROM scored GROUP BY 1)
SELECT doc_id, round(score, 10) AS score FROM agg, m WHERE nt >= m.req
ORDER BY round(score, 10) DESC, doc_id ASC LIMIT {k}
"""


def test_more_like_this_matches_duckdb(engine, duck):
    like = "spark join data batch window merge sort scan"
    r = engine.search("docs", {
        "query": {"more_like_this": {
            "fields": ["text"], "like": like,
            "min_term_freq": 1, "min_doc_freq": 5,
        }},
        "size": 15,
    })
    exp = duck.execute(
        MLT_SQL.format(like=like, min_tf=1, min_df=5, k=15)).fetchall()
    got = [(int(h["_id"]), round(h["_score"], 10)) for h in r["hits"]["hits"]]
    assert got == [(int(d), s) for d, s in exp]


def test_more_like_this_doc_ref_equals_text_like(engine, duck):
    txt = duck.execute("SELECT text FROM documents WHERE doc_id = 7").fetchone()[0]
    body_ref = {"query": {"more_like_this": {
        "fields": ["text"], "like": {"_id": 7},
        "min_term_freq": 1, "min_doc_freq": 5, "max_query_terms": 10,
    }}, "size": 10}
    body_txt = {"query": {"more_like_this": {
        "fields": ["text"], "like": txt,
        "min_term_freq": 1, "min_doc_freq": 5, "max_query_terms": 10,
    }}, "size": 10}
    a = [(h["_id"], h["_score"]) for h in engine.search("docs", body_ref)["hits"]["hits"]]
    b = [(h["_id"], h["_score"]) for h in engine.search("docs", body_txt)["hits"]["hits"]]
    assert a == b and len(a) == 10


def test_more_like_this_min_term_freq_filters(engine):
    # default min_term_freq=2: single-occurrence like terms select nothing
    with pytest.raises(ValueError, match="selected no terms"):
        engine.search("docs", {"query": {"more_like_this": {
            "fields": ["text"], "like": "spark join data",
        }}, "size": 5})
    # repeated terms pass the tf >= 2 gate
    r = engine.search("docs", {"query": {"more_like_this": {
        "fields": ["text"], "like": "spark spark join join",
    }}, "size": 5})
    assert len(r["hits"]["hits"]) == 5


# --- msearch concurrent collect --------------------------------------------

def test_msearch_concurrent_matches_serial(engine):
    """msearch (compile-serial, collect-concurrent) returns exactly the
    responses the same requests produce one-by-one — including aggs,
    full-text scores, and exact totals."""
    lines = [
        {"index": "events"},
        {"query": {"term": {"event_type": "error"}}, "size": 5,
         "sort": [{"event_id": {"order": "asc"}}],
         "aggs": {"t": {"terms": {"field": "event_type", "size": 5}}}},
        {"index": "docs"},
        {"query": {"match": {"text": "data"}}, "size": 5,
         "track_total_hits": True},
        {"index": "events"},
        {"size": 0, "aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {"s": {"sum": {"field": "value"}}}}}},
        {"index": "docs"},
        {"query": {"match_phrase": {"text": "spark join"}}, "size": 3},
    ]
    got = engine.msearch(lines)
    exp = [engine.search(h.get("index"), b)
           for h, b in zip(lines[::2], lines[1::2])]

    def strip_took(r):
        r = dict(r)
        r.pop("took", None)
        return r

    assert [strip_took(r) for r in got] == [strip_took(r) for r in exp]


# --- boxplot / MAD / top_metrics / boosting / terms lookup -----------------

def test_boxplot_exact_quartiles(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"b": {
        "boxplot": {"field": "value"}}}})
    exp = duck.execute("""
        SELECT min(value), max(value),
               quantile_cont(value, 0.25), quantile_cont(value, 0.5),
               quantile_cont(value, 0.75)
        FROM events WHERE value IS NOT NULL
    """).fetchone()
    b = r["aggregations"]["b"]
    assert [b["min"], b["max"], b["q1"], b["q2"], b["q3"]] == pytest.approx(list(exp))


def test_median_absolute_deviation_exact(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"m": {
        "median_absolute_deviation": {"field": "value"}}}})
    exp = duck.execute("""
        WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events)
        SELECT quantile_cont(abs(value - med.m), 0.5) FROM events, med
        WHERE value IS NOT NULL
    """).fetchone()[0]
    assert r["aggregations"]["m"]["value"] == pytest.approx(exp)


def test_top_metrics_best_row(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"t": {
        "top_metrics": {"metrics": [{"field": "value"}, {"field": "event_type"}],
                        "sort": {"ts": "desc"}}}}})
    exp = duck.execute("""
        SELECT epoch_ms(ts), value, event_type FROM events
        ORDER BY ts DESC LIMIT 1
    """).fetchone()
    top = r["aggregations"]["t"]["top"][0]
    assert top["metrics"]["value"] == pytest.approx(exp[1])
    assert top["metrics"]["event_type"] == exp[2]


def test_boosting_demotes_but_keeps(engine, oracle_small):
    nb = 0.25
    r = engine.search("docs", {
        "query": {"boosting": {
            "positive": {"match": {"text": "data"}},
            "negative": {"match": {"text": "dup"}},
            "negative_boost": nb,
        }},
        "size": 10000,
    })
    prim = dict(oracle_small.match(["data"], k=100000, mode="or"))
    neg = dict(oracle_small.match(["dup"], k=100000, mode="or"))
    exp = {d: (s * nb if d in neg else s) for d, s in prim.items()}
    got = {int(h["_id"]): h["_score"] for h in r["hits"]["hits"]}
    assert set(got) == set(exp)  # negative never excludes
    for d, s in got.items():
        assert math.isclose(s, exp[d], rel_tol=1e-9, abs_tol=1e-12)
    # rank order follows the demoted scores
    order = [int(h["_id"]) for h in r["hits"]["hits"]]
    assert order == sorted(exp, key=lambda d: (-exp[d], d))


def test_terms_lookup_fetches_values(engine, duck):
    # lookup the lang of doc 3, then terms-match events... use documents:
    # match all docs sharing doc 3's lang
    lang = duck.execute("SELECT lang FROM documents WHERE doc_id = 3").fetchone()[0]
    r = engine.search("docs", {
        "query": {"terms": {"lang": {"index": "docs", "id": 3, "path": "lang"}}},
        "size": 100000,
    })
    n = duck.execute("SELECT count(*) FROM documents WHERE lang = ?", [lang]).fetchone()[0]
    assert len(r["hits"]["hits"]) == n
    assert all(h["_source"]["lang"] == lang for h in r["hits"]["hits"])


# --- span queries -----------------------------------------------------------

def test_span_near_slop0_equals_phrase(spark, index_small, oracle_small):
    """span_near(in_order, slop=0) over two terms IS the phrase
    contract: identical docs AND scores to phrase_match / FTS5."""
    from gopensearch_spark.search.spans import span_near_match

    got = [(int(r["doc_id"]), float(r["score"])) for r in
           span_near_match(spark, index_small, ["spark", "join"],
                           slop=0, in_order=True, k=25).collect()]
    ref = oracle_small.match_raw('"spark join"', k=25)
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, a), (_, b) in zip(got, ref):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_span_near_ordered_matches_duckdb(engine, duck):
    """Ordered slop>0: greedy forward chain — nearest 'join' after each
    'spark' within the gap window; BM25 over that tf, value-exact."""
    slop, k = 3, 25
    r = engine.search("docs", {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "spark"}},
                        {"span_term": {"text": "join"}}],
            "slop": slop, "in_order": True,
        }},
        "size": k,
    })
    exp = duck.execute(f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
hits AS (
  SELECT a.doc_id, a.pos, min(b.pos) AS bpos
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos > a.pos
                        AND b.term = 'join'
  WHERE a.term = 'spark' GROUP BY 1, 2
  HAVING min(b.pos) - a.pos - 1 <= {slop}
),
tfed AS (SELECT doc_id, count(*) AS tf FROM hits GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
u AS (SELECT count(*) AS df FROM tfed)
SELECT t.doc_id,
  (CASE WHEN ln((s.n_docs - u.df + 0.5) / (u.df + 0.5)) > 0
        THEN ln((s.n_docs - u.df + 0.5) / (u.df + 0.5)) ELSE 1e-6 END)
  * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS score
FROM tfed t JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN u
ORDER BY score DESC, doc_id ASC LIMIT {k}
""").fetchall()
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [int(d) for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_span_near_unordered_matches_duckdb(engine, duck):
    slop, k = 2, 25
    r = engine.search("docs", {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "merge"}},
                        {"span_term": {"text": "sort"}}],
            "slop": slop, "in_order": False,
        }},
        "size": k,
    })
    exp = duck.execute(f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
hits AS (
  SELECT a.doc_id, a.pos, min(abs(b.pos - a.pos)) AS d
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.term = 'sort'
  WHERE a.term = 'merge' GROUP BY 1, 2
  HAVING min(abs(b.pos - a.pos)) - 1 <= {slop}
),
tfed AS (SELECT doc_id, count(*) AS tf FROM hits GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
u AS (SELECT count(*) AS df FROM tfed)
SELECT t.doc_id,
  (CASE WHEN ln((s.n_docs - u.df + 0.5) / (u.df + 0.5)) > 0
        THEN ln((s.n_docs - u.df + 0.5) / (u.df + 0.5)) ELSE 1e-6 END)
  * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS score
FROM tfed t JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN u
ORDER BY score DESC, doc_id ASC LIMIT {k}
""").fetchall()
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [d for d, _ in got] == [int(d) for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_span_near_three_clause_ordered(engine, duck):
    """Three ordered clauses: greedy chain spark -> join -> data."""
    r = engine.search("docs", {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "spark"}},
                        {"span_term": {"text": "join"}},
                        {"span_term": {"text": "data"}}],
            "slop": 8, "in_order": True,
        }},
        "size": 10000,
    })
    exp = duck.execute("""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
c2 AS (
  SELECT a.doc_id, a.pos AS p1, min(b.pos) AS p2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos > a.pos
                        AND b.term = 'join'
  WHERE a.term = 'spark' GROUP BY 1, 2
),
c3 AS (
  SELECT c2.doc_id, c2.p1, min(c.pos) AS p3
  FROM c2 JOIN tok c ON c.doc_id = c2.doc_id AND c.pos > c2.p2
                     AND c.term = 'data'
  GROUP BY 1, 2
  HAVING min(c.pos) - c2.p1 - 2 <= 8
)
SELECT DISTINCT doc_id FROM c3 ORDER BY doc_id
""").fetchall()
    assert sorted(int(h["_id"]) for h in r["hits"]["hits"]) == \
        [int(d[0]) for d in exp]


# --- adjacency_matrix / sampler ---------------------------------------------

def test_adjacency_matrix_counts(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"am": {
        "adjacency_matrix": {"filters": {
            "err": {"term": {"event_type": "error"}},
            "big": {"range": {"value": {"gte": 150}}},
            "odd": {"range": {"user_id": {"gte": 10}}},
        }},
    }}})
    exp = duck.execute("""
        SELECT
          sum(CASE WHEN value >= 150 THEN 1 ELSE 0 END),
          sum(CASE WHEN value >= 150 AND user_id >= 10 THEN 1 ELSE 0 END),
          sum(CASE WHEN value >= 150 AND event_type = 'error' THEN 1 ELSE 0 END),
          sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
          sum(CASE WHEN event_type = 'error' AND user_id >= 10 THEN 1 ELSE 0 END),
          sum(CASE WHEN user_id >= 10 THEN 1 ELSE 0 END)
        FROM events
    """).fetchone()
    got = {b["key"]: b["doc_count"] for b in r["aggregations"]["am"]["buckets"]}
    keys = ["big", "big&odd", "big&err", "err", "err&odd", "odd"]
    expmap = {k: int(v) for k, v in zip(keys, exp) if v}
    assert got == expmap
    # buckets come back key-ordered, empty intersections omitted
    assert [b["key"] for b in r["aggregations"]["am"]["buckets"]] == sorted(expmap)


def test_sampler_metric_over_top_ids(engine, duck):
    r = engine.search("events", {"size": 0,
        "query": {"range": {"value": {"gte": 50}}},
        "aggs": {"s": {
            "sampler": {"shard_size": 40},
            "aggs": {"v": {"avg": {"field": "value"}}},
        }}})
    exp = duck.execute("""
        SELECT count(*), avg(value) FROM (
          SELECT value FROM events WHERE value >= 50
          ORDER BY event_id ASC LIMIT 40)
    """).fetchone()
    s = r["aggregations"]["s"]
    assert s["doc_count"] == int(exp[0])
    assert s["v"]["value"] == pytest.approx(exp[1])


def test_diversified_sampler_caps_per_key(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"s": {
        "diversified_sampler": {"shard_size": 30, "field": "user_id",
                                "max_docs_per_value": 2},
        "aggs": {"v": {"sum": {"field": "value"}}},
    }}})
    exp = duck.execute("""
        SELECT count(*), sum(value) FROM (
          SELECT value FROM (
            SELECT event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY event_id ASC) AS rn
            FROM events
          ) WHERE rn <= 2 ORDER BY event_id ASC LIMIT 30)
    """).fetchone()
    s = r["aggregations"]["s"]
    assert s["doc_count"] == int(exp[0])
    assert s["v"]["value"] == pytest.approx(exp[1])


def test_fields_option_surfaces_values(engine):
    r = engine.search("events", {
        "query": {"term": {"event_type": "error"}},
        "fields": ["event_type", {"field": "value"}, "not_a_field"],
        "size": 3,
    })
    for h in r["hits"]["hits"]:
        assert h["fields"]["event_type"] == ["error"]
        assert h["fields"]["value"] == [h["_source"]["value"]]
        assert "not_a_field" not in h["fields"]
        assert "_source" in h  # fields does NOT suppress _source


def test_terms_include_exclude(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {
        "rx": {"terms": {"field": "event_type", "size": 10,
                         "include": "e.*|p.*", "exclude": "purchase"}},
        "lst": {"terms": {"field": "event_type", "size": 10,
                          "include": ["error", "signup"]}},
    }})
    exp = dict(duck.execute("""
        SELECT event_type, count(*) FROM events
        WHERE regexp_matches(event_type, '^(e.*|p.*)$')
          AND event_type <> 'purchase' GROUP BY 1
    """).fetchall())
    got = {b["key"]: b["doc_count"] for b in r["aggregations"]["rx"]["buckets"]}
    assert got == {k: int(v) for k, v in exp.items()}
    got2 = {b["key"] for b in r["aggregations"]["lst"]["buckets"]}
    assert got2 == {"error", "signup"}


def test_filters_other_bucket(engine, duck):
    r = engine.search("events", {"size": 0, "aggs": {"f": {
        "filters": {
            "other_bucket_key": "rest",
            "filters": {
                "err": {"term": {"event_type": "error"}},
                "big": {"range": {"value": {"gte": 150}}},
            },
        },
    }}})
    exp = duck.execute("""
        SELECT sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
               sum(CASE WHEN value >= 150 THEN 1 ELSE 0 END),
               sum(CASE WHEN NOT (coalesce(event_type = 'error', FALSE)
                                  OR coalesce(value >= 150, FALSE))
                        THEN 1 ELSE 0 END)
        FROM events
    """).fetchone()
    b = r["aggregations"]["f"]["buckets"]
    assert b["err"]["doc_count"] == int(exp[0])
    assert b["big"]["doc_count"] == int(exp[1])
    assert b["rest"]["doc_count"] == int(exp[2])


# --- _termvectors / _explain -------------------------------------------------

def test_termvectors_matches_analyzer(engine, duck):
    txt = duck.execute("SELECT text FROM documents WHERE doc_id = 5").fetchone()[0]
    r = engine.termvectors("docs", 5)
    assert r["found"] is True
    tv = r["term_vectors"]["text"]["terms"]
    toks = txt.split(" ")
    from collections import Counter
    exp = Counter(toks)
    assert {t: v["term_freq"] for t, v in tv.items()} == dict(exp)
    # positions are the analyzer's token positions
    first = toks[0]
    assert tv[first]["tokens"][0]["position"] == 0
    # df present and sane for an indexed field
    assert all(v.get("doc_freq", 1) >= 1 for v in tv.values())
    assert engine.termvectors("docs", 10**9)["found"] is False


def test_explain_matches_search_score(engine):
    # take a top hit from the real search, explain it, compare scores
    r = engine.search("docs", {"query": {"match": {"text": "spark join"}}, "size": 1})
    h = r["hits"]["hits"][0]
    ex = engine.explain("docs", h["_id"], {"query": {"match": {"text": "spark join"}}})
    assert ex["matched"] is True
    assert math.isclose(ex["explanation"]["value"], h["_score"],
                        rel_tol=1e-12, abs_tol=1e-15)
    assert len(ex["explanation"]["details"]) == 2
    # a repeated query term counts once per occurrence on both sides
    q = {"query": {"match": {"text": "spark join spark"}}, "size": 1}
    h = engine.search("docs", q)["hits"]["hits"][0]
    ex = engine.explain("docs", h["_id"], q)
    assert math.isclose(ex["explanation"]["value"], h["_score"],
                        rel_tol=1e-12, abs_tol=1e-15)
    assert len(ex["explanation"]["details"]) == 2
    # AND-mode mismatch: a doc without one term doesn't match
    ex2 = engine.explain("docs", h["_id"],
                         {"query": {"match": {"text": {"query": "spark zzzznotaterm",
                                                       "operator": "AND"}}}})
    assert ex2["matched"] is False and ex2["explanation"]["value"] == 0.0


def test_min_score_filters_hits_and_aggs(engine, oracle_small):
    scores = sorted((s for _, s in oracle_small.match(["data"], k=100000, mode="or")),
                    reverse=True)
    thr = scores[9]  # keep exactly the docs at/above the 10th score
    r = engine.search("docs", {
        "query": {"match": {"text": "data"}},
        "min_score": thr, "size": 10000, "track_total_hits": True,
        "aggs": {"n": {"value_count": {"field": "doc_id"}}},
    })
    n_exp = sum(1 for s in scores if s >= thr)
    assert r["hits"]["total"]["value"] == n_exp
    assert r["aggregations"]["n"]["value"] == n_exp
    assert all(h["_score"] >= thr for h in r["hits"]["hits"])


def test_phrase_suggester_corrects_two_tokens(engine):
    r = engine.search("docs", {"size": 0, "suggest": {
        "dym": {"text": "spak joib",
                "phrase": {"field": "text", "size": 3, "max_errors": 2}},
    }})
    e = r["suggest"]["dym"][0]
    assert e["text"] == "spak joib"
    texts = [o["text"] for o in e["options"]]
    assert "spark join" in texts
    # scores strictly ordered desc, ties broken by text asc
    scores = [o["score"] for o in e["options"]]
    assert scores == sorted(scores, reverse=True)


def test_phrase_suggester_respects_error_budget(engine):
    r = engine.search("docs", {"size": 0, "suggest": {
        "dym": {"text": "spak joib",
                "phrase": {"field": "text", "size": 5, "max_errors": 1}},
    }})
    e = r["suggest"]["dym"][0]
    for o in e["options"]:
        # at most ONE corrected position vs the input tokens
        diff = sum(1 for a, b in zip(o["text"].split(), ["spak", "joib"]) if a != b)
        assert diff <= 1


# --- completion suggester / _validate/query / _field_caps (round 5d) -------

def test_completion_suggester_prefix_hot_first(engine, oracle_small):
    """Completion options = vocabulary terms under the prefix, hottest
    (highest df) first; pinned against the FTS5 oracle's vocabulary."""
    resp = engine.search("docs", {
        "size": 0,
        "suggest": {"c": {"prefix": "dat", "completion": {"field": "text", "size": 5}}},
    })
    entry = resp["suggest"]["c"][0]
    assert entry["text"] == "dat"
    opts = entry["options"]
    assert 0 < len(opts) <= 5
    oracle_small.con.execute(
        "CREATE VIRTUAL TABLE IF NOT EXISTS fts_vocab USING fts5vocab(t, 'row')"
    )
    want = oracle_small.con.execute(
        "SELECT term, doc FROM fts_vocab WHERE term LIKE 'dat%' "
        "ORDER BY doc DESC, term ASC LIMIT 5"
    ).fetchall()
    assert [(o["text"], int(o["score"])) for o in opts] == \
        [(t, int(d)) for t, d in want]
    # skip_duplicates inherent + empty prefix yields no options
    resp2 = engine.search("docs", {
        "size": 0, "suggest": {"c": {"prefix": "", "completion": {"field": "text"}}},
    })
    assert resp2["suggest"]["c"][0]["options"] == []


def test_completion_suggester_rejects_unindexed_field(engine):
    with pytest.raises(ValueError, match="not an indexed text field"):
        engine.search("docs", {
            "size": 0,
            "suggest": {"c": {"prefix": "x", "completion": {"field": "nope"}}},
        })


def test_validate_query_accepts_and_rejects(engine):
    ok = engine.validate_query("events", {
        "query": {"bool": {"filter": [{"term": {"status": 200}}]}},
    }, explain=True)
    assert ok["valid"] is True
    assert ok["explanations"][0]["valid"] is True
    assert "term" in ok["explanations"][0]["explanation"].lower()

    bad = engine.validate_query("events", {
        "query": {"range": {"ts": {"gte": "not-a-date-at-all {"}}},
        "sort": [{"no_such_field": "asc"}],
    }, explain=True)
    # compilation must flag it, not throw
    assert isinstance(bad["valid"], bool)

    really_bad = engine.validate_query("events", {"query": {"made_up_clause": {}}})
    assert really_bad["valid"] is False


def test_field_caps_types_and_patterns(engine):
    caps = engine.field_caps("docs")
    assert caps["indices"] == ["docs"]
    f = caps["fields"]
    # full-text field: text (searchable, not aggregatable) + .keyword twin
    assert f["text"]["text"] == {
        "type": "text", "metadata_field": False,
        "searchable": True, "aggregatable": False,
    }
    assert f["text.keyword"]["keyword"]["aggregatable"] is True
    assert f["doc_id"]["long"]["type"] == "long"
    # pattern filtering
    only = engine.field_caps("docs", "text*")
    assert set(only["fields"]) == {"text", "text.keyword"}
    ev = engine.field_caps("events")["fields"]
    assert "ts" in ev and "date" in ev["ts"]


# --- _forcemerge / search templates (round 5d) ------------------------------

def test_force_merge_compacts_generation_and_preserves_ranking(
        spark, docs_small, tmp_path_factory, oracle_small):
    """force_merge = generation-pointer compaction: generation bumps,
    fragmented multi-slice runs merge to one run per term, and BM25
    ranking stays rank-identical to FTS5 across the merge."""
    from gopensearch_spark.index import build_index
    from gopensearch_spark.index.builder import read_manifest

    out = str(tmp_path_factory.mktemp("fm") / "idx")
    build_index(spark, docs_small, out, slices=3, with_positions=False)
    e = Engine(spark)
    e.create_index("d", docs_small, text_field="text", index_dir=out)
    before = e.search("d", {"query": {"match": {"text": "spark join"}}, "size": 10})
    g0 = read_manifest(out)["generation"]

    resp = e.force_merge("d", max_num_segments=1)
    assert resp["_shards"]["failed"] == 0 and resp["_shards"]["successful"] == 1
    assert read_manifest(out)["generation"] == g0 + 1

    after = e.search("d", {"query": {"match": {"text": "spark join"}}, "size": 10})
    key = lambda h: (h["_id"], round(h["_score"], 9))  # noqa: E731
    assert [key(h) for h in after["hits"]["hits"]] == \
        [key(h) for h in before["hits"]["hits"]]
    want = oracle_small.match(["spark", "join"], k=10, mode="and")
    assert [int(h["_id"]) for h in after["hits"]["hits"]] == [d for d, _ in want]


def test_render_and_search_template(engine):
    body = {
        "source": {
            "query": {"bool": {"filter": [
                {"term": {"event_type": "{{etype}}"}},
                {"terms": {"status": "{{#toJson}}codes{{/toJson}}"}},
            ]}},
            "size": "{{size}}",
        },
        "params": {"etype": "click", "codes": [200, 404], "size": 5},
    }
    rendered = engine.render_template(body)["template_output"]
    assert rendered["size"] == 5
    assert rendered["query"]["bool"]["filter"][1]["terms"]["status"] == [200, 404]

    resp = engine.search_template("events", body)
    assert len(resp["hits"]["hits"]) <= 5
    for h in resp["hits"]["hits"]:
        assert h["_source"]["event_type"] == "click"
        assert h["_source"]["status"] in (200, 404)


def test_render_template_escapes_strings(engine):
    out = engine.render_template({
        "source": '{"query": {"match": {"text": "{{q}}"}}}',
        "params": {"q": 'he said "hi"\n'},
    })["template_output"]
    assert out["query"]["match"]["text"] == 'he said "hi"\n'
