"""ES `fuzzy` query: edit-distance expansion over the term dictionary,
scored EXACTLY as an OR over the expanded terms (FTS5-pinned unit
semantics, same as the rest of the engine).

The FTS5 oracle has no fuzzy operator, so the pin is compositional: the
expansion itself is reproduced in pure Python (DP Levenshtein over the
corpus vocabulary, df DESC / term ASC, max_expansions truncation) and
the scoring of the expanded term set is checked against FTS5's own OR
ranking — if either half drifts, the end-to-end comparison breaks.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import pytest

from gopensearch_spark.analysis import tokenize
from gopensearch_spark.search.fuzzy import (
    auto_fuzziness,
    fuzzy_expand,
    fuzzy_match,
)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _py_expand(docs_rows, token, d, prefix_length=0, max_expansions=50):
    """Reference expansion: corpus vocabulary + df from raw tokenization."""
    df: Counter = Counter()
    for r in docs_rows:
        df.update(set(tokenize(r["text"])))
    cands = [
        (t, n) for t, n in df.items()
        if _lev(t, token) <= d and t.startswith(token[:prefix_length])
    ]
    cands.sort(key=lambda tn: (-tn[1], tn[0]))
    return [t for t, _ in cands[:max_expansions]]


@pytest.fixture(scope="module")
def docs_rows(docs_small):
    return docs_small.select("doc_id", "text").collect()


def test_auto_fuzziness_ladder():
    assert auto_fuzziness("ab") == 0
    assert auto_fuzziness("abc") == 1
    assert auto_fuzziness("abcde") == 1
    assert auto_fuzziness("abcdef") == 2
    assert auto_fuzziness("abcdef", 1) == 1
    assert auto_fuzziness("abcdef", "1") == 1
    assert auto_fuzziness("abcd", "AUTO:2,5") == 1
    assert auto_fuzziness("a", "AUTO:2,5") == 0
    assert auto_fuzziness("abcdef", "") == 2  # "" = AUTO (model default)


def test_expansion_matches_python_reference(spark, index_small, docs_rows):
    for token, d in [("spak", 1), ("dat", 1), ("merge", 2)]:
        got = fuzzy_expand(spark, index_small, token, d)
        want = _py_expand(docs_rows, token, d)
        assert got == want, (token, d)
        assert got  # non-vacuous: the corpus really has neighbors


def test_expansion_prefix_length_and_truncation(spark, index_small, docs_rows):
    got = fuzzy_expand(spark, index_small, "spak", 2, prefix_length=2,
                       max_expansions=3)
    want = _py_expand(docs_rows, "spak", 2, prefix_length=2, max_expansions=3)
    assert got == want
    assert len(got) <= 3
    assert all(t.startswith("sp") for t in got)


def test_fuzzy_match_scores_are_or_over_expansion(spark, index_small,
                                                  docs_rows, oracle_small):
    token, d = "spak", 1
    terms = _py_expand(docs_rows, token, d)
    ref = oracle_small.match(terms, k=15, mode="or")
    got = [
        (r["doc_id"], r["score"])
        for r in fuzzy_match(spark, index_small, token, k=15).collect()
    ]
    assert [x[0] for x in got] == [x[0] for x in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_fuzzy_distance_zero_is_exact_term(spark, index_small, oracle_small):
    # len("ab") <= 2 -> AUTO distance 0 -> exactly the bare term's ranking
    got = [r["doc_id"] for r in fuzzy_match(spark, index_small, "data",
                                            fuzziness=0, k=10).collect()]
    ref = [d for d, _ in oracle_small.match(["data"], k=10, mode="or")]
    assert got == ref


def test_fuzzy_multi_token_value_rejected(spark, index_small):
    with pytest.raises(ValueError, match="single token"):
        fuzzy_match(spark, index_small, "spark join")


def test_fuzzy_through_engine_dsl(engine_fuzzy, spark, index_small,
                                  docs_rows, oracle_small):
    body = {"query": {"fuzzy": {"text": {"value": "spak"}}}, "size": 10}
    r = engine_fuzzy.search("docs", body)
    terms = _py_expand(docs_rows, "spak", 1)
    ref = oracle_small.match(terms, k=10, mode="or")
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [x[0] for x in got] == [x[0] for x in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_fuzzy_shorthand_and_match_fuzziness_agree(engine_fuzzy):
    a = engine_fuzzy.search("docs", {"query": {"fuzzy": {"text": "spak"}}, "size": 10})
    b = engine_fuzzy.search(
        "docs",
        {"query": {"match": {"text": {"query": "spak", "fuzziness": "AUTO"}}},
         "size": 10},
    )
    ha = [(h["_id"], h["_score"]) for h in a["hits"]["hits"]]
    hb = [(h["_id"], h["_score"]) for h in b["hits"]["hits"]]
    assert ha == hb and ha


def test_fuzzy_composes_under_bool_filter(engine_fuzzy, docs_rows, oracle_small):
    body = {"query": {"bool": {
        "must": [{"fuzzy": {"text": {"value": "spak"}}}],
        "filter": [{"term": {"lang": "en"}}]}}, "size": 5}
    r = engine_fuzzy.search("docs", body)
    hits = r["hits"]["hits"]
    assert hits and all(h["_source"]["lang"] == "en" for h in hits)
    terms = _py_expand(docs_rows, "spak", 1)
    ref = dict(oracle_small.match(terms, k=100000, mode="or"))
    for h in hits:
        assert math.isclose(h["_score"], ref[int(h["_id"])], rel_tol=1e-9)


def test_fuzzy_stale_dict_degrades_to_term_stats(spark, docs_small, tmp_path):
    """Postings appended without finalize: the vocabulary must come from
    the df-delta fold, never silently miss the new terms."""
    from gopensearch_spark.index.builder import (
        build_postings,
        fold_corpus_stats,
        rebuild_term_dict,
    )
    from gopensearch_spark.search.readers import invalidate

    idx = str(tmp_path / "idx")
    # streaming layout throughout (batch_id partitions), as a streamed
    # index would be; dict fresh after batch 1, stale after batch 77
    build_postings(docs_small.limit(60), idx, term_buckets=8,
                   with_positions=True, batch_id=1)
    stats = fold_corpus_stats(spark, idx, term_buckets=8, with_positions=True)
    rebuild_term_dict(spark, idx, n_docs=stats["n_docs"])
    extra = spark.createDataFrame(
        [(20_000_001, "zzyzx zzyzx road"), (20_000_002, "plain words")],
        "doc_id long, text string",
    )
    build_postings(extra, idx, term_buckets=8,
                   with_positions=True, batch_id=77)
    fold_corpus_stats(spark, idx, term_buckets=8, with_positions=True)
    invalidate(idx)
    terms = fuzzy_expand(spark, idx, "zzyzz", 1)
    assert "zzyzx" in terms
    got = {r["doc_id"] for r in fuzzy_match(spark, idx, "zzyzz", k=10).collect()}
    assert 20_000_001 in got


def _py_regexp_expand(docs_rows, pattern, case_insensitive=False,
                      max_expansions=1000):
    import re

    df: Counter = Counter()
    for r in docs_rows:
        df.update(set(tokenize(r["text"])))
    flags = re.IGNORECASE if case_insensitive else 0
    cands = [(t, n) for t, n in df.items() if re.fullmatch(pattern, t, flags)]
    cands.sort(key=lambda tn: (-tn[1], tn[0]))
    return [t for t, _ in cands[:max_expansions]]


def test_regexp_expansion_matches_python_reference(spark, index_small, docs_rows):
    from gopensearch_spark.search.fuzzy import regexp_expand

    for pat in ["dat[a-z]*", "sp.rk", "(merge|sort)", "jo.+"]:
        got = regexp_expand(spark, index_small, pat)
        want = _py_regexp_expand(docs_rows, pat)
        assert got == want, pat
    assert regexp_expand(spark, index_small, "dat[a-z]*")  # non-vacuous


def test_regexp_case_insensitive_and_truncation(spark, index_small, docs_rows):
    from gopensearch_spark.search.fuzzy import regexp_expand

    got = regexp_expand(spark, index_small, "DAT[A-Z]*", case_insensitive=True,
                        max_expansions=2)
    want = _py_regexp_expand(docs_rows, "DAT[A-Z]*", case_insensitive=True,
                             max_expansions=2)
    assert got == want and len(got) <= 2


def test_regexp_match_scores_are_or_over_expansion(spark, index_small,
                                                   docs_rows, oracle_small):
    from gopensearch_spark.search.fuzzy import regexp_match

    pat = "(merge|sort|batch)"
    terms = _py_regexp_expand(docs_rows, pat)
    ref = oracle_small.match(terms, k=15, mode="or")
    got = [
        (r["doc_id"], r["score"])
        for r in regexp_match(spark, index_small, pat, k=15).collect()
    ]
    assert [x[0] for x in got] == [x[0] for x in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_regexp_through_engine_dsl(engine_fuzzy, docs_rows, oracle_small):
    body = {"query": {"regexp": {"text": {"value": "dat[a-z]*"}}}, "size": 10}
    r = engine_fuzzy.search("docs", body)
    terms = _py_regexp_expand(docs_rows, "dat[a-z]*")
    ref = oracle_small.match(terms, k=10, mode="or")
    got = [(int(h["_id"]), h["_score"]) for h in r["hits"]["hits"]]
    assert [x[0] for x in got] == [x[0] for x in ref]
    for (_, s1), (_, s2) in zip(got, ref):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_regexp_no_match_returns_empty(engine_fuzzy):
    r = engine_fuzzy.search(
        "docs", {"query": {"regexp": {"text": {"value": "zzznope[0-9]+"}}}}
    )
    assert r["hits"]["hits"] == []


@pytest.fixture(scope="module")
def engine_fuzzy(spark, docs_small, index_small):
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small,
                   id_col="doc_id")
    return e
