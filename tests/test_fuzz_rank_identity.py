"""Seeded randomized rank-identity fuzz: a generated corpus (shared
prefixes, Zipf-ish repetition, unicode folding cases) and dozens of
random queries through every engine, each compared to SQLite FTS5.
Deterministic (fixed seed) so failures reproduce."""

import math
import random

import pytest

VOCAB = (
    "alpha alps albatross beta betamax gamma gain data date datum "
    "merge mergesort zeta zoo "
).split() + ["café", "naïve", "Zürich"]


def _mk_corpus(rng: random.Random, n_docs: int) -> list[tuple[int, str]]:
    docs = []
    for i in range(1, n_docs + 1):
        n = rng.randint(3, 60)
        words = [rng.choice(VOCAB) for _ in range(n)]
        # inject some exact bigrams so phrases/NEAR have hits
        if n > 6 and rng.random() < 0.5:
            j = rng.randrange(n - 2)
            words[j : j + 2] = ["data", "merge"]
        docs.append((i, " ".join(words)))
    return docs


@pytest.fixture(scope="module")
def fuzz_env(spark, tmp_path_factory):
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index import build_index

    rng = random.Random(0xF17)
    docs = _mk_corpus(rng, 80)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("fuzz") / "idx")
    build_index(spark, df, out, slices=1, term_buckets=8, with_positions=True)
    oracle = Fts5Oracle()
    oracle.load(docs)
    yield out, oracle, rng
    oracle.close()


def _assert_identical(ours, ref, ctx):
    assert len(ours) == len(ref), (ctx, ours, ref)
    for (d1, s1), (d2, s2) in zip(ours, ref):
        assert d1 == d2 and math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (ctx, ours, ref)


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_fuzz_term_queries(spark, fuzz_env):
    from gopensearch_spark.search import bm25_match, wand_match

    out, oracle, rng = fuzz_env
    base = [w for w in VOCAB if w.isascii()]
    for trial in range(14):
        terms = rng.sample(base, rng.randint(1, 4))
        mode = rng.choice(["and", "or"])
        k = rng.choice([5, 25, 200])
        ref = oracle.match(terms, k=k, mode=mode)
        _assert_identical(_rows(bm25_match(spark, out, terms, k=k, mode=mode)), ref, (terms, mode, k))
        _assert_identical(_rows(wand_match(spark, out, terms, k=k, mode=mode)), ref, (terms, mode, k))


def test_fuzz_unicode_terms(spark, fuzz_env):
    from gopensearch_spark.search import bm25_match

    out, oracle, _ = fuzz_env
    for term in ["café", "naïve", "zürich"]:
        # unicode61 strips diacritics; both sides must agree on folding
        ref = oracle.match([term], k=25, mode="or")
        got = _rows(bm25_match(spark, out, [term], k=25, mode="or"))
        # FTS5 folds 'café'->'cafe'; our tokenizer does too — compare directly
        _assert_identical(got, ref, term)


def _rand_leaf(rng):
    r = rng.random()
    if r < 0.5:
        return rng.choice(["alpha", "beta", "gamma", "data", "merge", "zoo", "gain"])
    if r < 0.7:
        return '"data merge"'
    if r < 0.8:
        return rng.choice(["alp", "bet", "dat", "mer"]) + "*"
    if r < 0.9:
        # phrase-prefix: final token a prefix ("data mer" * etc.)
        return rng.choice(['"data mer" *', '"data me"*', '"alpha dat" *'])
    return f"NEAR(data merge, {rng.randint(0, 6)})"


def _rand_expr(rng, depth=0):
    if depth >= 2 or rng.random() < 0.4:
        return _rand_leaf(rng)
    op = rng.choice(["AND", "OR", "NOT"])
    left = _rand_expr(rng, depth + 1)
    right = _rand_expr(rng, depth + 1)
    if rng.random() < 0.3:
        return f"({left}) {op} ({right})"
    return f"{left} {op} {right}"


def test_fuzz_match_expressions(spark, fuzz_env):
    from gopensearch_spark.search.matchexpr import match_expr

    out, oracle, rng = fuzz_env
    for trial in range(16):
        expr = _rand_expr(rng)
        ref = oracle.match_raw(expr, k=30)
        got = _rows(match_expr(spark, out, expr, k=30))
        _assert_identical(got, ref, expr)


def test_fuzz_highlight(spark, fuzz_env):
    from gopensearch_spark.search.highlight import highlight_text, leaves_for_match

    out, oracle, rng = fuzz_env
    con = oracle.con
    rows = dict(con.execute("SELECT rowid, content FROM t"))
    for q, leaves in [
        ("data merge", leaves_for_match("data merge", "match")),
        ('"data merge"', leaves_for_match("data merge", "phrase")),
        ("dat*", leaves_for_match("dat", "prefix")),
    ]:
        match_q = "data OR merge" if q == "data merge" else q
        for rid, want in con.execute(
            "SELECT rowid, highlight(t, 0, '[', ']') FROM t WHERE t MATCH ? LIMIT 20",
            (match_q,),
        ):
            got = highlight_text(rows[rid], leaves, "[", "]")
            assert got == want, (q, rid, got, want)
