"""web_pages fixture + extraction invariants (BASELINE.json input_hint).

The reference stores documents verbatim (INSERT of the raw blob,
reference pkg/server/db.go:14-44), so extraction must be a pure,
byte-identical function of the page — pinned here both at the Python
level and through the vectorized Spark path, plus determinism of the
synthetic web_pages generator and stability of url-derived doc_ids.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gopensearch_spark.webtext import (
    extract_text,
    prepare_corpus,
    render_html,
    synth_web_pages,
)


@pytest.fixture(scope="module")
def web_pages_small(spark, docs_small):
    return synth_web_pages(spark, docs_small, copies=1).cache()


def test_render_extract_roundtrip_unicode():
    cases = [
        "plain ascii words",
        "café naïve façade — déjà vu",
        "中文 test ストリーム",
        "",
        "nested </body></html> markers inside text </body></html>",
    ]
    for text in cases[:-1]:
        assert extract_text(render_html("https://x/y", text)) == text
    # trailing marker case: rfind keeps everything before the LAST suffix
    t = cases[-1]
    assert extract_text(render_html("https://x/y", t)).startswith(
        "nested </body></html> markers inside text"
    )


def test_extract_byte_identical_via_spark(web_pages_small):
    got = web_pages_small.select(
        "url",
        F.col("text").alias("orig"),
    ).join(prepare_corpus(web_pages_small).select("url", "text"), "url")
    assert got.where(F.col("text") != F.col("orig")).count() == 0


def test_synth_deterministic(spark, docs_small, web_pages_small):
    again = synth_web_pages(spark, docs_small, copies=1)
    a = web_pages_small.select("url", F.md5(F.base64("html")).alias("h"), "warc_ts", "lang")
    b = again.select("url", F.md5(F.base64("html")).alias("h2"),
                     F.col("warc_ts").alias("t2"), F.col("lang").alias("l2"))
    j = a.join(b, "url", "full")
    n = web_pages_small.count()
    assert j.count() == n
    assert j.where("h != h2 OR warc_ts != t2 OR lang != l2").count() == 0


def test_doc_id_stable_across_partitioning(spark, web_pages_small):
    c1 = prepare_corpus(web_pages_small).select("url", "doc_id")
    c2 = prepare_corpus(web_pages_small.repartition(7)).select(
        "url", F.col("doc_id").alias("doc_id2")
    )
    j = c1.join(c2, "url")
    assert j.where("doc_id != doc_id2").count() == 0
    # ids unique + non-negative (FTS5-oracle rowid compatible)
    assert c1.select("doc_id").distinct().count() == c1.count()
    assert c1.where("doc_id < 0").count() == 0


def test_build_index_job_end_to_end(spark, web_pages_small, tmp_path):
    """spark-submit entrypoint: web_pages parquet -> index -> queryable."""
    wp_path = str(tmp_path / "web_pages")
    idx = str(tmp_path / "idx")
    web_pages_small.write.parquet(wp_path)

    from gopensearch_spark.jobs.build_index_job import main

    rc = main([
        "--input", wp_path, "--output", idx,
        "--slices", "2", "--term-buckets", "8",
    ])
    assert rc == 0
    assert os.path.exists(os.path.join(idx, "corpus_stats.json"))
    # resumable: both slice checkpoints committed
    from gopensearch_spark.index.builder import completed_slices

    assert completed_slices(idx) == {0, 1}

    from gopensearch_spark.search import bm25_match

    assert len(bm25_match(spark, idx, "data", k=5, mode="or").collect()) == 5


def test_compact_index_merges_slices(spark, docs_small, oracle_small, tmp_path):
    """A fragmented 3-slice build compacts into single sorted runs with
    unchanged (rank-identical) query results.

    Each slice appends its own sorted postings file per term_bucket;
    compaction merges those back to one run per bucket."""
    import glob
    import math
    import os

    from gopensearch_spark.index import build_index, compact_index
    from gopensearch_spark.search import bm25_match

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    build_index(spark, docs_small, src, slices=3, term_buckets=8, with_positions=True,
                input_lineage="sf0.001/documents.parquet")

    def files_per_bucket(d):
        return [
            len(glob.glob(os.path.join(b, "*.parquet")))
            for b in glob.glob(os.path.join(d, "postings", "term_bucket=*"))
        ]

    assert max(files_per_bucket(src)) > 1  # slices really did fragment

    compact_index(spark, src, dst)
    assert max(files_per_bucket(dst)) == 1  # one sorted run per bucket

    for terms, mode in [(["spark", "join"], "or"), (["merge", "sort", "batch"], "and")]:
        ref = oracle_small.match(terms, k=25, mode=mode)
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in bm25_match(spark, dst, terms, k=25, mode=mode).collect()]
        assert len(got) == len(ref)
        for (d1, s1), (d2, s2) in zip(got, ref):
            assert d1 == d2 and math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)

    # positions survive compaction -> phrase queries still work
    from gopensearch_spark.search import phrase_match

    ref = oracle_small.match_raw('"spark join"', k=10)
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in phrase_match(spark, dst, "spark join", k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in ref]


def test_positions_optional_profile(spark, docs_small, oracle_small, tmp_path):
    """detail=none analogue (FTS5 has one): with_positions=False (the
    build default) skips per-posting position lists — materially smaller
    postings at 100 TB — while BM25/prefix stay fully functional
    and rank-identical; phrase/NEAR raise the clear capability error."""
    import math

    from gopensearch_spark.index import build_index
    from gopensearch_spark.search import near_match, phrase_match, prefix_match, wand_match

    idx = str(tmp_path / "nopos")
    build_index(spark, docs_small, idx, term_buckets=8, with_positions=False)
    post = spark.read.parquet(os.path.join(idx, "postings"))
    assert "positions" not in post.columns

    got = [(int(r["doc_id"]), float(r["score"]))
           for r in wand_match(spark, idx, ["spark", "join"], k=10, mode="or").collect()]
    ref = oracle_small.match(["spark", "join"], k=10, mode="or")
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, a), (_, b) in zip(got, ref):
        assert math.isclose(a, b, rel_tol=1e-9)
    assert prefix_match(spark, idx, "dat", k=5).count() > 0

    with pytest.raises(ValueError, match="without positions"):
        phrase_match(spark, idx, "spark join", k=5).collect()
    with pytest.raises(ValueError, match="without positions"):
        near_match(spark, idx, [("term", "spark"), ("term", "data")], n=5, k=5).collect()


def test_query_job_end_to_end(spark, index_small, oracle_small, tmp_path, capsys):
    """spark-submit query entrypoint: batch file and single query, JSON
    lines out, rank-identical to the FTS5 oracle."""
    import json as _json

    qf = tmp_path / "queries.txt"
    qf.write_text("spark join\nmerge sort\n")

    from gopensearch_spark.jobs.query_job import main

    rc = main(["--index", index_small, "--queries-file", str(qf),
               "--mode", "and", "--k", "5"])
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["job"] == "query" and lines[-1]["n_queries"] == 2
    assert lines[-1]["p50_sec"] > 0
    for ln, q in zip(lines[:-1], ["spark join", "merge sort"]):
        ref = oracle_small.match(q.split(), k=5, mode="and")
        assert [h["doc_id"] for h in ln["hits"]] == [d for d, _ in ref]

    rc = main(["--index", index_small, "--query", "data",
               "--mode", "or", "--k", "3"])
    assert rc == 0
    out = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    ref = oracle_small.match(["data"], k=3, mode="or")
    assert [h["doc_id"] for h in out[0]["hits"]] == [d for d, _ in ref]
