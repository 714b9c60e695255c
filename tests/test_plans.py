"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plan, not just in comments.

- postings/term_stats scans prune to the query terms' term_bucket
  partitions (PartitionFilters) and push `term IN (...)` into parquet
  (PushedFilters);
- the positions column is pruned out of BM25 scans (ReadSchema);
- term stats join is a broadcast hash join (no shuffle of postings for
  the join);
- exactly ONE exchange (the doc_id aggregation) in the scoring plan;
- top-k compiles to TakeOrderedAndProject, not a global sort.
"""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def scores_plan(spark, index_small):
    from gopensearch_spark.search import bm25_scores

    return _plan(bm25_scores(spark, index_small, ["spark", "join"], mode="or"))


def test_partition_pruning_and_pushdown(scores_plan):
    assert "PartitionFilters: [term_bucket" in scores_plan.replace("#", " #").replace("  ", " ") or \
           "PartitionFilters: [term_bucket" in scores_plan
    assert "PushedFilters: [In(term" in scores_plan


def test_positions_column_pruned(scores_plan):
    # BM25 never reads position bytes; parquet projection must drop them
    assert "positions" not in scores_plan


def test_no_join_and_single_shuffle(scores_plan):
    """r6: idfs resolve driver-side (memoized term_dfs) and ride the
    postings scan as a literal map — the plan has NO join at all and
    exactly one data exchange (the doc_id agg)."""
    assert "Join" not in scores_plan, scores_plan
    n_exchanges = scores_plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, scores_plan


def test_topk_is_take_ordered(spark, index_small):
    from gopensearch_spark.search import bm25_match

    plan = _plan(bm25_match(spark, index_small, ["spark", "join"], k=10, mode="or"))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("query", ["phrase", "phrase_prefix", "near", "span_near"])
def test_phrase_candidate_pass_is_position_free(spark, index_small, query):
    """Round-3 pin: positional grouping is two-pass — a skinny
    (doc_id, term) aggregate finds docs containing ALL terms first, so
    the fat ``positions`` bytes of docs holding only SOME query terms
    never enter a shuffle. The plan must show a postings scan whose
    ReadSchema excludes positions (the candidate pass) alongside the
    positional scan. Every positional query shares that pass and the
    one Arrow kernel: exactly one MapInPandas node and no
    ArrowEvalPython (a scalar pandas UDF)."""
    import re

    from gopensearch_spark.search import near_match, phrase_match, phrase_prefix_match
    from gopensearch_spark.search.spans import span_near_match

    df = {
        "phrase": lambda: phrase_match(spark, index_small, "spark join", k=10),
        "phrase_prefix": lambda: phrase_prefix_match(spark, index_small, "spark jo", k=10),
        "near": lambda: near_match(
            spark, index_small, [("term", "spark"), ("term", "join")], n=5, k=10),
        "span_near": lambda: span_near_match(spark, index_small, ["spark", "join"], slop=2, k=10),
    }[query]()
    plan = _plan(df)
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    assert any("positions" not in s for s in schemas), schemas  # skinny pass
    assert any("positions" in s for s in schemas), schemas      # positional pass
    # an adaptive plan prints its final and initial plans; a node keeps
    # its expression id in both
    assert len(set(re.findall(r"MapInPandas \w+\(.*?\)#(\d+)", plan))) == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_prefix_scan_prunes_buckets_via_term_dict(spark, index_small):
    """Prefix queries resolve against the sorted term dictionary first,
    so the postings scan is partition-pruned to the matching terms'
    buckets (the hash layout alone cannot prune a prefix) with the
    StartsWith pushed to parquet."""
    from gopensearch_spark.search import prefix_match

    # multi-expansion prefix ('s' -> scan/slow/small/sort/spark/stream):
    # the generic path, bucket-pruned with StartsWith pushed down
    plan = _plan(prefix_match(spark, index_small, "s", k=10))
    assert "term_bucket#" in plan.split("PartitionFilters:", 1)[1].split("]", 1)[0], plan
    assert "StringStartsWith(term,s)" in plan
    # SINGLE-expansion prefix ('dat' -> only 'data'): BM25-identical to
    # a term query, so it serves as one — an exact-term postings scan,
    # not a startswith one
    plan1 = _plan(prefix_match(spark, index_small, "dat", k=10))
    assert "StringStartsWith" not in plan1, plan1
    assert "PushedFilters: [In(term" in plan1 or "EqualTo(term,data)" in plan1, plan1
    # unmatched prefix short-circuits to an empty relation, no scan job
    assert prefix_match(spark, index_small, "zzzzqq", k=5).count() == 0


def test_significant_text_plan_never_scans_postings(spark, docs_small, index_small):
    """significant_text's background must come from term_stats alone:
    the physical plan reads the term_stats table and NEVER the postings
    files — at 10^12 docs that is the difference between a
    vocabulary-sized scan and an index-sized one."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("d", docs_small, text_field="text", index_dir=index_small)
    _, aggs, _ = e.search_df("d", {
        "query": {"range": {"n_chars": {"gte": 400}}},
        "size": 0,
        "aggs": {"s": {"significant_text": {"field": "text",
                                            "min_doc_count": 2}}},
    })
    _, df = aggs["s"]
    plan = _plan(df)
    assert "term_stats" in plan
    assert "/postings" not in plan


def test_top_hits_bounds_rows_before_collect(spark):
    """The top_hits plan filters on row_number BEFORE the collect_list
    aggregate: the per-bucket array is built from at most N rows per
    key, never a bucket's full membership. Pinned by plan order —
    the Filter on the rn column sits below the ObjectHashAggregate."""
    from pyspark.sql import functions as F

    from gopensearch_spark.dsl import Engine

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 13 % 101).alias("v"),
    )
    e = Engine(spark)
    e.create_index("t", df, id_col="doc_id")
    _, aggs, _ = e.search_df("t", {"size": 0, "aggs": {"b": {
        "terms": {"field": "g", "size": 10},
        "aggs": {"h": {"top_hits": {"size": 3,
                                    "sort": [{"v": {"order": "desc"}}]}}},
    }}})
    _, out = aggs["b"]
    plan = _plan(out)
    # the window's row_number filter must appear in the plan (bounding
    # happens in the window stage, pre-aggregate)
    assert "row_number" in plan
    assert "__rn" in plan
    agg_pos = plan.find("ObjectHashAggregate")
    if agg_pos == -1:
        agg_pos = plan.find("SortAggregate")
    filt_pos = plan.rfind("__rn")
    assert agg_pos != -1 and filt_pos > agg_pos  # filter below the agg


def test_decontaminate_broadcasts_benchmark(spark, docs_small):
    """The benchmark side must broadcast — the corpus side of the
    shingle join never shuffles."""
    from pyspark.sql import functions as F

    from gopensearch_spark.datapipe import decontaminate

    bench = docs_small.limit(5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = _plan(decontaminate(docs_small, bench, n=5))
    assert "BroadcastHashJoin" in plan
    # the only hash exchange is the final (doc_id, bench_id) aggregate
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_cosine_topk_norms_precomputed_below_join(spark):
    """VERDICT r4 #2: a corpus row's norm must be computed ONCE per row
    (below the crossJoin), never re-derived for every query it meets —
    the post-join pair expression is a single dot product."""
    from pyspark.sql import functions as F

    from gopensearch_spark.datapipe import cosine_topk

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("double") + 1.0 for i in range(4)]).alias(
            "embedding"
        ),
    )
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = cosine_topk(emb, q, k=3)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    ji = next(i for i, l in enumerate(lines) if "Join" in l)
    above = "\n".join(lines[:ji]).upper()
    below = "\n".join(lines[ji:]).upper()
    assert "SQRT" not in above, plan  # no norm math above the join
    assert "SQRT" in below, plan  # norms live in the per-side projects


def test_rescore_window_joins_stay_broadcast(spark, docs_small, index_small):
    """The rescore secondary relation is restricted by a broadcast of
    the BOUNDED window ids and the outer combine join broadcasts the
    (window-sized) right side — no sort-merge shuffle of posting
    relations anywhere in the two-phase ranking plan."""
    from gopensearch_spark.dsl import Engine

    e = Engine(spark)
    e.create_index("docs", docs_small, text_field="text", index_dir=index_small)
    hits, _, _ = e.search_df("docs", {
        "query": {"match": {"text": "data"}},
        "rescore": {
            "window_size": 20,
            "query": {"rescore_query": {"match_phrase": {"text": "spark join"}}},
        },
        "size": 10,
    })
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_collapse_single_exchange_on_key(spark):
    """Field collapsing costs exactly one shuffle — the window over the
    collapse key; no extra exchange appears after it."""
    import os

    from gopensearch_spark.dsl import Engine

    sf = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
                      "sf0.001")
    e = Engine(spark)
    e.create_index("events", spark.read.parquet(os.path.join(sf, "events.parquet")),
                   json_col="props", id_col="event_id")
    hits, _, _ = e.search_df("events", {
        "query": {"range": {"value": {"gte": 100}}},
        "collapse": {"field": "user_id"},
        "size": 100000,
    })
    plan = _plan(hits)
    assert "Window" in plan
    assert plan.count("Exchange") == 1
