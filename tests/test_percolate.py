"""Percolation (reverse search): stored queries evaluated against
candidate documents in ONE Catalyst projection — a boolean expression
per stored query, folded to an array_compact of matched ids. Full-text
`match` clauses evaluate as analyzed-term containment using the exact
index tokenizer (matching only, no scores — ES percolate semantics)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def perc(spark):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.register_percolator("alerts", "high_value",
                          {"range": {"amount": {"gte": 1000}}})
    e.register_percolator("alerts", "eu_region", {"term": {"region": "eu"}})
    e.register_percolator("alerts", "urgent_text",
                          {"match": {"body": {"query": "outage urgent",
                                              "operator": "OR"}}})
    e.register_percolator("alerts", "combo", {"bool": {"must": [
        {"match": {"body": "outage"}},
        {"range": {"amount": {"gte": 500}}}]}})
    return e


DOCS = [
    {"amount": 1500, "region": "eu", "body": "all good"},
    {"amount": 700, "region": "us", "body": "major OUTAGE in progress"},
    {"amount": 10, "region": "eu", "body": "urgent: low stock"},
]


def test_percolate_matches_per_doc(perc):
    res = perc.percolate("alerts", DOCS)
    assert [sorted(r["matched_queries"]) for r in res] == [
        ["eu_region", "high_value"],
        ["combo", "urgent_text"],          # analyzer folds OUTAGE -> outage
        ["eu_region", "urgent_text"],
    ]
    # input order and source fields are preserved
    assert [r["region"] for r in res] == ["eu", "us", "eu"]


def test_percolate_single_doc_and_empty_registry(perc):
    res = perc.percolate("alerts", {"amount": 2000, "region": "us", "body": ""})
    assert sorted(res[0]["matched_queries"]) == ["high_value"]
    assert perc.percolate("no_such_registry", DOCS) == []


def test_percolate_match_and_operator(perc):
    perc.register_percolator("alerts", "both_terms",
                             {"match": {"body": {"query": "urgent outage",
                                                 "operator": "AND"}}})
    res = perc.percolate(
        "alerts", {"amount": 0, "region": "x", "body": "urgent outage now"})
    assert "both_terms" in res[0]["matched_queries"]
    res2 = perc.percolate(
        "alerts", {"amount": 0, "region": "x", "body": "urgent only"})
    assert "both_terms" not in res2[0]["matched_queries"]


def test_percolate_dataframe_input(perc, spark):
    df = spark.createDataFrame(
        [(1500.0, "eu", "fine"), (5.0, "us", "outage outage")],
        "amount double, region string, body string",
    )
    res = perc.percolate("alerts", df)
    assert sorted(res[0]["matched_queries"]) == ["eu_region", "high_value"]
    assert res[1]["matched_queries"] == ["urgent_text"]


def test_register_percolator_validates_eagerly(perc):
    with pytest.raises(Exception):
        perc.register_percolator("alerts", "bad", {"range": "not-a-dict"})


def test_percolate_absent_field_doesnt_fail_batch(perc):
    """A stored query on a field the candidate docs lack must not fail
    the whole batch (ES: it simply doesn't match) — r6 ADVICE fix."""
    out = perc.percolate("alerts", [{"amount": 1500}])
    assert out[0]["matched_queries"] == ["high_value"]
    # and a doc with NONE of the referenced fields matches nothing
    out = perc.percolate("alerts", [{"other": "x"}])
    assert out[0]["matched_queries"] == []


def test_percolate_match_under_composite_tokenizes(perc):
    """A match nested under constant_score/dis_max must tokenize like a
    top-level match, not degrade to whole-string equality — r6 ADVICE
    fix."""
    perc.register_percolator("alerts", "cs_outage", {
        "constant_score": {"filter": {"match": {"body": "outage"}}}})
    perc.register_percolator("alerts", "dm_outage", {
        "dis_max": {"queries": [{"match": {"body": "outage"}}]}})
    out = perc.percolate(
        "alerts", [{"amount": 0, "region": "us",
                    "body": "major OUTAGE in progress"}])
    assert "cs_outage" in out[0]["matched_queries"]
    assert "dm_outage" in out[0]["matched_queries"]


def test_percolate_must_not_on_absent_field_still_matches(perc):
    """A field that appears only under must_not (or in one should
    branch) must not gate the whole stored query: a doc lacking it
    matches the positive part, as in ES."""
    perc.register_percolator("alerts", "outage_not_muted", {"bool": {
        "must": [{"match": {"body": "outage"}}],
        "must_not": [{"term": {"muted": True}}]}})
    perc.register_percolator("alerts", "outage_or_flag", {"bool": {
        "should": [{"match": {"body": "outage"}},
                   {"term": {"flag": "red"}}]}})
    out = perc.percolate("alerts", [{"body": "major outage"}, {"body": "all good"}])
    assert "outage_not_muted" in out[0]["matched_queries"]
    assert "outage_or_flag" in out[0]["matched_queries"]
    assert out[1]["matched_queries"] == []


def test_percolate_match_with_no_tokens_matches_nothing(perc):
    """A stored `match` whose query analyzes to no tokens matches no doc
    (ES zero_terms_query "none"); under must_not it excludes none."""
    perc.register_percolator("alerts", "punct", {"match": {"body": "!!!"}})
    perc.register_percolator("alerts", "not_punct", {"bool": {
        "must": [{"match": {"body": "outage"}}],
        "must_not": [{"match": {"body": "!!!"}}]}})
    out = perc.percolate("alerts", [{"body": "major outage !!!"}])
    assert "punct" not in out[0]["matched_queries"]
    assert "not_punct" in out[0]["matched_queries"]
