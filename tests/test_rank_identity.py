"""Rank-identity vs SQLite FTS5 (the reference's backend): top-k doc_ids
AND BM25 scores must match, through ``bm25_match`` and its
``wand_match`` alias. BASELINE.json north_rule's core gate.
"""

import math

import pytest

from gopensearch_spark.search import bm25_match, wand_match

# (query_terms, mode) — head terms, tail terms, AND/OR, multi-term;
# picked from the synthetic corpus vocabulary (Zipfian head = spark/data/...).
QUERIES = [
    (["spark"], "and"),
    (["data"], "and"),
    (["window"], "and"),
    (["spark", "join"], "and"),
    (["spark", "join"], "or"),
    (["merge", "sort", "batch"], "and"),
    (["merge", "sort", "batch"], "or"),
    (["stream", "filter"], "and"),
    (["zzz_absent_term"], "or"),
    (["spark", "zzz_absent_term"], "and"),
]


def _ours(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _assert_rank_identical(ours, ref):
    assert len(ours) == len(ref), f"len {len(ours)} != {len(ref)}"
    for (d1, s1), (d2, s2) in zip(ours, ref):
        assert d1 == d2, f"doc order diverges: {ours} vs {ref}"
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (d1, s1, s2)


@pytest.mark.parametrize("terms,mode", QUERIES)
@pytest.mark.parametrize("k", [10, 100])
def test_dataframe_engine_rank_identity(spark, index_small, oracle_small, terms, mode, k):
    ref = oracle_small.match(terms, k=k, mode=mode)
    if not ref and mode == "and":
        # engine returns empty too
        if any(t == "zzz_absent_term" for t in terms):
            got = _ours(bm25_match(spark, index_small, terms, k=k, mode=mode))
            assert got == []
            return
    got = _ours(bm25_match(spark, index_small, terms, k=k, mode=mode))
    _assert_rank_identical(got, ref)


@pytest.mark.parametrize("terms,mode", QUERIES)
@pytest.mark.parametrize("k", [10, 100])
def test_wand_engine_rank_identity(spark, index_small, oracle_small, terms, mode, k):
    ref = oracle_small.match(terms, k=k, mode=mode)
    got = _ours(wand_match(spark, index_small, terms, k=k, mode=mode))
    _assert_rank_identical(got, ref)


def test_engines_agree_on_phrase_query(spark, index_small, oracle_small):
    a = _ours(bm25_match(spark, index_small, "spark join data", k=25, mode="or"))
    b = _ours(wand_match(spark, index_small, "spark join data", k=25, mode="or"))
    ref = oracle_small.match(["spark", "join", "data"], k=25, mode="or")
    _assert_rank_identical(a, ref)
    _assert_rank_identical(b, ref)


# --- positional phrase / prefix queries (FTS5 '"a b"' and 'ab*') ------------

PHRASES = [
    "spark join",
    "data scan",
    "the data",
    "merge sort batch",      # likely absent as an exact phrase
    "spark spark",           # repeated-term phrase
]


@pytest.mark.parametrize("phrase", PHRASES)
@pytest.mark.parametrize("k", [10, 100])
def test_phrase_rank_identity(spark, index_small, oracle_small, phrase, k):
    from gopensearch_spark.search import phrase_match

    ref = oracle_small.match_raw(f'"{phrase}"', k=k)
    got = _ours(phrase_match(spark, index_small, phrase, k=k))
    _assert_rank_identical(got, ref)


@pytest.mark.parametrize("prefix", ["spar", "dat", "s", "zzz"])
def test_prefix_rank_identity(spark, index_small, oracle_small, prefix):
    from gopensearch_spark.search import prefix_match

    ref = oracle_small.match_raw(f"{prefix}*", k=25)
    got = _ours(prefix_match(spark, index_small, prefix, k=25))
    _assert_rank_identical(got, ref)


@pytest.mark.parametrize("phrase,prefix", [
    ("spark", "jo"),          # 2-slot, head continuation
    ("the", "dat"),           # stopword-ish head, broad expansion
    ("spark", "s"),           # 1-char expansion (many terms)
    ("the data", "sc"),       # 3-slot
    ("spark", "zzz"),         # empty expansion -> no hits
])
def test_phrase_prefix_rank_identity(spark, index_small, oracle_small, phrase, prefix):
    """FTS5 `"a b" *`: the final token is a prefix token; tf counts
    start positions whose continuation chain ends on ANY expansion term
    — one phrase unit, not a per-expansion OR."""
    from gopensearch_spark.search import phrase_prefix_match

    ref = oracle_small.match_raw(f'"{phrase} {prefix}" *', k=25)
    got = _ours(phrase_prefix_match(
        spark, index_small, f"{phrase} {prefix}", k=25))
    _assert_rank_identical(got, ref)


# --- full FTS5 MATCH expressions ---------------------------------------------

EXPRS = [
    "spark AND join",
    "spark join",                      # implicit AND
    "spark OR join OR merge",
    "spark AND (join OR merge)",
    "spark NOT join",
    "(spark OR merge) NOT (batch OR sort)",
    '"spark join" OR dat*',
    '"spark jo" *',                    # phrase-prefix unit
    '"spark jo"* AND data',            # no-space star form, composed
    'merge OR "the dat" *',
    '"the data" AND scan',
    "spar* AND jo*",
    "data NOT zzz_absent_term",
    # NEAR groups (trimmed-tf scoring semantics pinned vs FTS5)
    "NEAR(spark join, 1)",
    "NEAR(spark join)",
    "NEAR(data scan batch, 8)",
    'NEAR("the data" scan, 6)',
    "spark AND NEAR(data scan, 4)",
    "NEAR(spark join, 2) OR merge",
    "NEAR(zzz_absent_term spark, 3)",
]


@pytest.mark.parametrize("expr", EXPRS)
def test_match_expr_rank_identity(spark, index_small, oracle_small, expr):
    from gopensearch_spark.search.matchexpr import match_expr

    ref = oracle_small.match_raw(expr, k=25)
    got = _ours(match_expr(spark, index_small, expr, k=25))
    _assert_rank_identical(got, ref)


def test_match_expr_parser_shapes():
    from gopensearch_spark.search.matchexpr import Leaf, Op, parse_match_expr

    n = parse_match_expr('a AND (b OR "c d") NOT e*')
    # NOT binds tighter than AND: a AND ((b OR "c d") NOT e*)
    assert isinstance(n, Op) and n.op == "AND"
    assert isinstance(n.left, Leaf) and n.left.value == "a"
    assert isinstance(n.right, Op) and n.right.op == "NOT"
    assert n.right.right.kind == "prefix" and n.right.right.value == "e"
    inner = n.right.left
    assert inner.op == "OR" and inner.right.kind == "phrase"
