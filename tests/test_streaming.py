"""Structured Streaming incremental ingest: files -> micro-batches ->
index appends; queries stay rank-identical to an FTS5 oracle over the
union of everything ingested so far; a second drain after new files
land indexes ONLY the new files (streaming checkpoint resume)."""

import math
import os

import pytest


def _assert_identical(ours, ref):
    assert len(ours) == len(ref)
    for (d1, s1), (d2, s2) in zip(ours, ref):
        assert d1 == d2 and math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)


def test_streaming_ingest_and_resume(spark, docs_small, tmp_path):
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.search import bm25_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import synth_web_pages

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)

    pages = synth_web_pages(spark, docs_small, copies=1).cache()
    first = pages.where("pmod(xxhash64(url), 2) = 0")
    second = pages.where("pmod(xxhash64(url), 2) = 1")
    first.coalesce(1).write.mode("append").parquet(inbox)

    stats1 = index_stream_available_now(spark, inbox, idx, cp)
    from gopensearch_spark.webtext import prepare_corpus

    corp1 = prepare_corpus(first).select("doc_id", "text").collect()
    assert stats1["n_docs"] == len(corp1)

    o1 = Fts5Oracle(); o1.load([(int(r.doc_id), r.text) for r in corp1])
    got = [(int(r.doc_id), float(r.score))
           for r in bm25_match(spark, idx, ["spark", "join"], k=10, mode="or").collect()]
    _assert_identical(got, o1.match(["spark", "join"], k=10, mode="or"))
    o1.close()

    # second wave of files -> only the delta is indexed
    second.coalesce(1).write.mode("append").parquet(inbox)
    stats2 = index_stream_available_now(spark, inbox, idx, cp)
    all_rows = prepare_corpus(pages).select("doc_id", "text").collect()
    assert stats2["n_docs"] == len(all_rows)

    o2 = Fts5Oracle(); o2.load([(int(r.doc_id), r.text) for r in all_rows])
    for terms, mode in [(["spark", "join"], "or"), (["data"], "and")]:
        got = [(int(r.doc_id), float(r.score))
               for r in bm25_match(spark, idx, terms, k=15, mode=mode).collect()]
        _assert_identical(got, o2.match(terms, k=15, mode=mode))
    o2.close()
    # batch records exist (observability + idempotent replays)
    recs = os.listdir(os.path.join(idx, "_stream_batches"))
    assert len(recs) >= 2
    pages.unpersist()


def test_streaming_batches_are_idempotent_and_incremental(spark, docs_small, tmp_path):
    """Crash-replay safety + incremental stats layout:

    - every table carries batch_id partitions (the idempotency unit);
    - term_stats holds per-batch DELTAS, not a full re-aggregation;
    - re-running a batch handler after its commit record was lost
      (crash between data write and commit) leaves counts UNCHANGED
      (dynamic partition overwrite replaces, never appends).
    """
    import glob
    import json as _json

    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.streaming.ingest import _batch_ckpt, _make_batch_handler
    from gopensearch_spark.webtext import synth_web_pages, prepare_corpus
    from gopensearch_spark.index.builder import read_corpus_stats, resolve_index_dir

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(60), copies=1).cache()
    first = pages.where("pmod(xxhash64(url), 2) = 0")
    second = pages.where("pmod(xxhash64(url), 2) = 1")
    first.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)
    second.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)

    # batch_id partition dirs exist on every table (incl. term-df and
    # corpus-stat deltas)
    data = resolve_index_dir(idx)
    for table in ["postings", "doc_stats", "term_stats", "batch_stats"]:
        parts = {os.path.basename(p) for p in glob.glob(os.path.join(data, table, "batch_id=*"))}
        assert {"batch_id=0", "batch_id=1"} <= parts, (table, parts)

    stats_before = read_corpus_stats(idx)
    postings_before = spark.read.parquet(os.path.join(data, "postings")).count()
    tstats_before = spark.read.parquet(os.path.join(data, "term_stats")).groupBy().sum("df").collect()[0][0]

    # simulate crash-before-commit: drop batch 1's record, replay it
    os.remove(_batch_ckpt(idx, 1))
    handler = _make_batch_handler(idx, term_buckets=16, with_positions=False)
    handler(second, 1)

    assert read_corpus_stats(idx)["n_docs"] == stats_before["n_docs"]
    assert spark.read.parquet(os.path.join(data, "postings")).count() == postings_before
    tstats_after = spark.read.parquet(os.path.join(data, "term_stats")).groupBy().sum("df").collect()[0][0]
    assert tstats_after == tstats_before
    with open(_batch_ckpt(idx, 1)) as f:
        assert _json.load(f)["status"] == "committed"
    pages.unpersist()


def test_batch_stats_never_rescan_older_batches(spark, docs_small, tmp_path):
    """The per-micro-batch stats job must be O(batch), not O(total docs):
    corpus stats come from folding one delta ROW per batch, never from
    re-aggregating the doc_stats table. Proof: destroy batch 0's
    doc_stats partition, replay batch 1 — if the handler re-scanned
    doc_stats the totals would drop (or the job would fail); with the
    delta fold they stay exactly right."""
    import shutil

    from gopensearch_spark.index.builder import read_corpus_stats, resolve_index_dir
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.streaming.ingest import _batch_ckpt, _make_batch_handler
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(60), copies=1).cache()
    first = pages.where("pmod(xxhash64(url), 2) = 0")
    second = pages.where("pmod(xxhash64(url), 2) = 1")
    first.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)
    second.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)

    total = prepare_corpus(pages).count()
    assert read_corpus_stats(idx)["n_docs"] == total

    shutil.rmtree(os.path.join(resolve_index_dir(idx), "doc_stats", "batch_id=0"))
    os.remove(_batch_ckpt(idx, 1))
    handler = _make_batch_handler(idx, term_buckets=16, with_positions=False)
    handler(second, 1)
    stats = read_corpus_stats(idx)
    assert stats["n_docs"] == total  # batch-0 docs still counted
    pages.unpersist()


def test_prefix_prunes_on_streaming_index(spark, docs_small, tmp_path):
    """Round-3: streaming batches rebuild the sorted term_dict, so a
    prefix query on a streaming-built index partition-prunes the
    postings scan (no more full term_bucket sweep); and the manifest's
    term_dict freshness check degrades to the full scan — never wrong
    results — when postings are newer than the dict."""
    from gopensearch_spark.index.builder import build_postings, read_manifest
    from gopensearch_spark.search import prefix_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import synth_web_pages

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(80), copies=1).cache()
    pages.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp, with_positions=True)

    assert read_manifest(idx).get("term_dict_n_docs") is not None
    res = prefix_match(spark, idx, "dat", k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket#" in plan.split("PartitionFilters:", 1)[1].split("]", 1)[0], plan
    baseline = [(r["doc_id"], round(r["score"], 9)) for r in res.collect()]
    assert baseline

    # postings newer than dict (raw append, no finalize/batch rebuild):
    # freshness check must route to the FULL scan and still be right
    extra = spark.createDataFrame(
        [(10_000_001, "datums galore datums"), (10_000_002, "nothing here")],
        "doc_id long, text string",
    )
    build_postings(extra, idx, term_buckets=16,
                   with_positions=True, batch_id=99)
    from gopensearch_spark.index.builder import fold_corpus_stats

    fold_corpus_stats(spark, idx, term_buckets=16, with_positions=True)
    stale = prefix_match(spark, idx, "dat", k=50)
    stale_plan = stale._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" in stale_plan or "term_bucket#" not in \
        stale_plan.split("PartitionFilters:", 1)[1].split("]", 1)[0], stale_plan
    got_ids = {r["doc_id"] for r in stale.collect()}
    assert 10_000_001 in got_ids  # the un-dict'ed doc is FOUND, not dropped
    pages.unpersist()


def test_fold_backfills_missing_batch_deltas(spark, docs_small, tmp_path):
    """Self-healing fold: destroying a batch's batch_stats delta (a
    pre-delta-version index, or a crash between the doc_stats and
    batch_stats writes) must NOT silently undercount — the fold
    backfills the missing delta from only that batch's doc_stats
    partition and lands on the exact totals."""
    import shutil

    from gopensearch_spark.index.builder import (
        build_postings, fold_corpus_stats, read_corpus_stats, resolve_index_dir,
    )
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    idx = str(tmp_path / "idx")
    pages = synth_web_pages(spark, docs_small.limit(60), copies=1).cache()
    corpus = prepare_corpus(pages)
    for b in (0, 1):
        build_postings(corpus.where(f"pmod(xxhash64(doc_id), 2) = {b}"), idx,
                       term_buckets=8, batch_id=b)
    total = corpus.count()
    fold_corpus_stats(spark, idx, term_buckets=8)
    assert read_corpus_stats(idx)["n_docs"] == total

    data = resolve_index_dir(idx)
    shutil.rmtree(os.path.join(data, "batch_stats", "batch_id=0"))
    stats = fold_corpus_stats(spark, idx, term_buckets=8)
    assert stats["n_docs"] == total  # backfilled, not undercounted
    assert os.path.isdir(os.path.join(data, "batch_stats", "batch_id=0"))
    pages.unpersist()


def test_streaming_auto_compaction(spark, docs_small, tmp_path):
    """compact_every=N: after every N-th batch the per-batch runs merge
    into ONE consolidated batch_id=-1 run per term (salted
    repartition-by-term); future batches keep appending under their own
    batch_id, commit records survive the swap, queries stay
    rank-identical to FTS5 over the union, and prefix queries still
    partition-prune (fresh term_dict after compaction)."""
    import glob

    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.search import prefix_match, wand_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(120), copies=1).cache()
    for wave in range(4):
        pages.where(f"pmod(xxhash64(url), 4) = {wave}").coalesce(1)\
            .write.mode("append").parquet(inbox)
        index_stream_available_now(spark, inbox, idx, cp,
                                   with_positions=True, compact_every=2)

    # batches 0..3 drained, compactions fired after batches 1 and 3:
    # everything is consolidated under batch_id=-1, in a GENERATION dir
    # committed by a manifest write (rename-free: deployable on object
    # stores) — data paths resolve through the manifest
    from gopensearch_spark.index.builder import resolve_index_dir
    data = resolve_index_dir(idx)
    assert data != idx and os.path.basename(data).startswith("gen-"), data
    parts = {os.path.basename(p) for p in glob.glob(os.path.join(data, "postings", "batch_id=*"))}
    assert parts == {"batch_id=-1"}, parts
    recs = os.listdir(os.path.join(idx, "_stream_batches"))
    assert len([r for r in recs if r.endswith(".json")]) >= 4  # records survive swaps

    rows = prepare_corpus(pages).select("doc_id", "text").collect()
    o = Fts5Oracle(); o.load([(int(r.doc_id), r.text) for r in rows])
    got = [(int(r.doc_id), float(r.score))
           for r in wand_match(spark, idx, ["spark", "join"], k=15, mode="or").collect()]
    _assert_identical(got, o.match(["spark", "join"], k=15, mode="or"))

    # prefix partition-prunes on the compacted index (fresh dict + meta)
    res = prefix_match(spark, idx, "dat", k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket#" in plan.split("PartitionFilters:", 1)[1].split("]", 1)[0], plan
    assert res.count() > 0

    # a post-compaction wave appends under its own batch_id and queries
    # stay identical over the union
    extra = synth_web_pages(spark, docs_small.limit(150), copies=1)\
        .where("pmod(xxhash64(url), 4) = 0")\
        .withColumn("url", F_concat_url())
    # (new urls so the file stream sees new content)
    extra.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp,
                               with_positions=True, compact_every=None)
    data = resolve_index_dir(idx)
    parts = {os.path.basename(p) for p in glob.glob(os.path.join(data, "postings", "batch_id=*"))}
    assert "batch_id=-1" in parts and len(parts) == 2, parts
    all_rows = spark.read.parquet(os.path.join(data, "doc_stats")).count()
    from gopensearch_spark.index.builder import read_corpus_stats
    assert read_corpus_stats(idx)["n_docs"] == all_rows
    o.close()
    pages.unpersist()


def F_concat_url():
    from pyspark.sql import functions as F

    return F.concat(F.col("url"), F.lit("?v=2"))


def test_wand_over_streaming_index(spark, docs_small, tmp_path):
    """Top-k over a MULTI-BATCH streaming index: each micro-batch
    contributes its own posting runs and df deltas; the ranking must
    stay identical to FTS5 over the union."""
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.search import wand_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox = str(tmp_path / "inbox")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small, copies=1).cache()
    for half in (0, 1):
        pages.where(f"pmod(xxhash64(url), 2) = {half}").coalesce(1)\
            .write.mode("append").parquet(inbox)
        index_stream_available_now(spark, inbox, idx, cp)
    rows = prepare_corpus(pages).select("doc_id", "text").collect()
    o = Fts5Oracle(); o.load([(int(r.doc_id), r.text) for r in rows])
    for terms, mode in [(["data"], "or"), (["spark", "join"], "and"),
                        (["merge", "sort", "batch"], "or")]:
        got = [(int(r.doc_id), float(r.score))
               for r in wand_match(spark, idx, terms, k=15, mode=mode).collect()]
        _assert_identical(got, o.match(terms, k=15, mode=mode))
    o.close()
    pages.unpersist()


def test_wand_and_on_range_split_batches(spark, tmp_path):
    """Regression: time-ordered ingest puts DISJOINT doc-id ranges in
    different micro-batches, so a term's posting runs are not globally
    sorted across batches; top-k over such an index must still equal
    FTS5's over the same docs."""
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index.builder import build_postings, fold_corpus_stats
    from gopensearch_spark.search import wand_match

    idx = str(tmp_path / "idx")
    text = lambda i: "alpha " * (i % 3 + 1) + "beta common" + (" rare" if i % 7 == 0 else "")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, text(i)) for i in range(lo, hi)], "doc_id long, text string")
    # batch 0 holds the HIGH id range, batch 1 the LOW one
    build_postings(mk(1000, 1080), idx, term_buckets=4, batch_id=0)
    build_postings(mk(1, 60), idx, term_buckets=4, batch_id=1)
    fold_corpus_stats(spark, idx, term_buckets=4)

    o = Fts5Oracle()
    o.load([(i, text(i)) for i in [*range(1000, 1080), *range(1, 60)]])
    for terms, mode in [(["alpha", "beta"], "and"), (["alpha", "rare"], "and"),
                        (["beta", "rare", "common"], "or")]:
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in wand_match(spark, idx, terms, k=200, mode=mode).collect()]
        _assert_identical(got, o.match(terms, k=200, mode=mode))
        assert len(got) > 100 or mode == "and" and "rare" in terms
    o.close()


def test_compaction_crash_leaves_readers_on_committed_generation(spark, docs_small, tmp_path):
    """Rename-free commit crash window: a compaction that dies while
    building gen-(N+1) must leave the manifest — and every reader — on
    generation N; the next compaction attempt rebuilds the junk dir and
    commits atomically. There is no rename anywhere in the flow."""
    import shutil

    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index.builder import (
        compact_streaming_index,
        read_manifest,
        resolve_index_dir,
    )
    from gopensearch_spark.search import wand_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox, idx, cp = (str(tmp_path / d) for d in ("inbox", "idx", "cp"))
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.limit(100), copies=1).cache()
    pages.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp, with_positions=True)

    compact_streaming_index(spark, idx)
    assert read_manifest(idx)["generation"] == 1

    rows = prepare_corpus(pages).select("doc_id", "text").collect()
    o = Fts5Oracle(); o.load([(int(r.doc_id), r.text) for r in rows])
    ref = o.match(["spark", "join"], k=10, mode="or")

    # simulate a crash mid-build of gen-2: a half-written table dir
    junk = os.path.join(idx, "gen-2", "postings")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-garbage.parquet"), "wb") as f:
        f.write(b"\x00not a parquet file")
    # the manifest still says gen-1; every read path serves the committed gen
    assert resolve_index_dir(idx).endswith("gen-1")
    got = [(int(r.doc_id), float(r.score))
           for r in wand_match(spark, idx, ["spark", "join"], k=10, mode="or").collect()]
    _assert_identical(got, ref)

    # the retry rebuilds gen-2 from scratch and commits via the manifest
    compact_streaming_index(spark, idx)
    assert read_manifest(idx)["generation"] == 2
    assert resolve_index_dir(idx).endswith("gen-2")
    got = [(int(r.doc_id), float(r.score))
           for r in wand_match(spark, idx, ["spark", "join"], k=10, mode="or").collect()]
    _assert_identical(got, ref)
    # gen-0's tables (two generations old) were cleaned up; gen-1 kept
    assert not os.path.isdir(os.path.join(idx, "gen-0", "postings"))
    assert os.path.isdir(os.path.join(idx, "gen-1"))
    # streaming commit records live at the root, outside generations
    assert os.path.isdir(os.path.join(idx, "_stream_batches"))
    o.close()
    pages.unpersist()


def _assert_one_layout(idx):
    """The committed generation has the one index layout: postings,
    doc_stats and term_stats partitioned by batch_id, a batch_stats
    table, and no blocks/ dir."""
    import glob

    from gopensearch_spark.index.builder import read_corpus_stats, resolve_index_dir

    root = resolve_index_dir(idx)
    for table in ("postings", "doc_stats", "term_stats"):
        assert glob.glob(os.path.join(root, table, "batch_id=*")), (root, table)
    assert os.path.isdir(os.path.join(root, "batch_stats")), root
    assert not os.path.exists(os.path.join(root, "blocks")), root
    assert set(read_corpus_stats(idx)) == {
        "n_docs", "avg_doc_len", "total_tokens", "term_buckets", "with_positions"}


def test_index_writes_no_blocks_table(spark, tmp_path):
    """Every writer produces the one layout: a batch build, a streaming
    micro-batch (into the built index and into a fresh one) and a
    compaction write batch_id-partitioned tables plus batch_stats, no
    blocks/ dir and no codec key in the corpus stats; warm_index
    persists nothing on the executors."""
    from gopensearch_spark.index.builder import (
        build_index,
        build_postings,
        compact_streaming_index,
        fold_corpus_stats,
    )
    from gopensearch_spark.search import warm_index
    from gopensearch_spark.search.readers import invalidate

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 5}") for i in range(40)], "doc_id long, text string")
    more = spark.createDataFrame(
        [(i, f"beta gamma w{i % 3}") for i in range(40, 60)], "doc_id long, text string")
    built, streamed = str(tmp_path / "built"), str(tmp_path / "streamed")
    build_index(spark, docs, built, term_buckets=4)
    _assert_one_layout(built)
    build_postings(docs, streamed, term_buckets=4, batch_id=0)
    fold_corpus_stats(spark, streamed, term_buckets=4)
    _assert_one_layout(streamed)
    build_postings(more, built, term_buckets=4, batch_id=0)
    assert fold_corpus_stats(spark, built, term_buckets=4)["n_docs"] == 60
    _assert_one_layout(built)
    for idx in (built, streamed):
        compact_streaming_index(spark, idx)
        _assert_one_layout(idx)

    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = persisted()
    try:
        assert warm_index(spark, built).complete
        assert persisted() == before
    finally:
        invalidate(built)


def test_stream_appends_to_built_and_force_merged_index(spark, docs_small, tmp_path):
    """A stream appends to a batch-built index, and again after
    Engine.force_merge: match, phrase and prefix results equal FTS5's
    over the union each time, and n_docs counts the union. With default
    arguments the stream keeps the build's auto-sized bucket count and
    its positions. Repeated force_merges keep at most two generations."""
    import glob

    from gopensearch_spark.dsl import Engine
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index.builder import (
        build_index,
        read_corpus_stats,
        recommended_term_buckets,
    )
    from gopensearch_spark.search import bm25_match, phrase_match, prefix_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox, idx, cp = (str(tmp_path / d) for d in ("inbox", "idx", "cp"))
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small, copies=3).cache()
    built = pages.where("url LIKE '%/c0' OR url LIKE '%/c1'")
    waves = [pages.where(f"url LIKE '%/c2' AND pmod(xxhash64(url), 2) = {w}")
             for w in (0, 1)]
    corpus = prepare_corpus(built).select("doc_id", "text")
    n_built = corpus.count()
    assert n_built >= 1000
    build_index(spark, corpus, idx, term_buckets=None, with_positions=True)
    buckets = read_corpus_stats(idx)["term_buckets"]
    assert buckets == recommended_term_buckets(n_built) != 16

    waves[0].coalesce(1).write.mode("append").parquet(inbox)
    rows = corpus.collect()
    e = Engine(spark)
    e.create_index("d", corpus, text_field="text", index_dir=idx)

    def check(new_pages):
        rows.extend(prepare_corpus(new_pages).select("doc_id", "text").collect())
        stats = read_corpus_stats(idx)
        assert stats["n_docs"] == len(rows)
        assert (stats["term_buckets"], stats["with_positions"]) == (buckets, True)
        o = Fts5Oracle()
        o.load([(int(r.doc_id), r.text) for r in rows])
        for terms, mode in [(["spark", "join"], "or"), (["data", "merge"], "and")]:
            got = [(int(r.doc_id), float(r.score))
                   for r in bm25_match(spark, idx, terms, k=15, mode=mode).collect()]
            _assert_identical(got, o.match(terms, k=15, mode=mode))
        for ours, expr in [(phrase_match(spark, idx, "spark join", k=15), '"spark join"'),
                           (prefix_match(spark, idx, "dat", k=15), "dat*")]:
            got = [(int(r.doc_id), float(r.score)) for r in ours.collect()]
            _assert_identical(got, o.match_raw(expr, k=15))
        o.close()

    index_stream_available_now(spark, inbox, idx, cp)
    check(waves[0])

    assert e.force_merge("d")["_shards"]["successful"] == 1
    waves[1].coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)
    check(waves[1])

    for _ in range(2):
        e.force_merge("d")
    gens = sorted(os.path.basename(g) for g in glob.glob(os.path.join(idx, "gen-*")))
    assert gens == ["gen-2", "gen-3"]
    check(pages.limit(0))
    pages.unpersist()


def test_build_rerun_keeps_streamed_and_compacted_index(spark, docs_small, tmp_path):
    """Re-running a finished build_index (every slice checkpointed)
    after a stream, and again after a compaction, leaves the index as it
    was: n_docs keeps the streamed docs, match equals FTS5 over the
    union, and a further compaction still succeeds."""
    from gopensearch_spark.fts5_oracle import Fts5Oracle
    from gopensearch_spark.index.builder import (
        build_index,
        compact_streaming_index,
        read_corpus_stats,
    )
    from gopensearch_spark.search import bm25_match
    from gopensearch_spark.streaming import index_stream_available_now
    from gopensearch_spark.webtext import prepare_corpus, synth_web_pages

    inbox, idx, cp = (str(tmp_path / d) for d in ("inbox", "idx", "cp"))
    os.makedirs(inbox)
    pages = synth_web_pages(spark, docs_small.orderBy("doc_id").limit(20), copies=3).cache()
    corpus = prepare_corpus(pages.where("url NOT LIKE '%/c2'")).select("doc_id", "text")
    streamed = pages.where("url LIKE '%/c2'")

    def build():
        return build_index(spark, corpus, idx, slices=2, term_buckets=4, with_positions=True)

    build()
    streamed.coalesce(1).write.mode("append").parquet(inbox)
    index_stream_available_now(spark, inbox, idx, cp)
    rows = corpus.collect() + prepare_corpus(streamed).select("doc_id", "text").collect()
    assert len(rows) == 60
    o = Fts5Oracle()
    o.load([(int(r.doc_id), r.text) for r in rows])

    def check():
        assert read_corpus_stats(idx)["n_docs"] == len(rows)
        for terms, mode in [(["spark", "join"], "or"), (["data"], "and")]:
            got = [(int(r.doc_id), float(r.score))
                   for r in bm25_match(spark, idx, terms, k=15, mode=mode).collect()]
            assert got
            _assert_identical(got, o.match(terms, k=15, mode=mode))

    assert build()["n_docs"] == len(rows)
    check()
    compact_streaming_index(spark, idx)
    assert build()["n_docs"] == len(rows)
    check()
    compact_streaming_index(spark, idx)
    check()
    o.close()
    pages.unpersist()


def test_stream_rejects_conflicting_layout(spark, tmp_path):
    """An explicit term_buckets or with_positions that differs from the
    existing index's raises before the stream writes anything."""
    from gopensearch_spark.index.builder import build_index
    from gopensearch_spark.streaming import index_stream_available_now

    inbox, idx, cp = (str(tmp_path / d) for d in ("inbox", "idx", "cp"))
    os.makedirs(inbox)
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    build_index(spark, docs, idx, term_buckets=4)
    for bad in ({"term_buckets": 8}, {"with_positions": True}):
        with pytest.raises(ValueError, match="conflicts with the index"):
            index_stream_available_now(spark, inbox, idx, cp, **bad)
    assert not os.path.exists(cp)
    assert not os.path.exists(os.path.join(idx, "_stream_batches"))
