"""spark-submit entrypoint: build the inverted index over a web_pages table.

Cluster usage (the north-rule deployment shape):

    zip -r gopensearch_spark.zip gopensearch_spark
    spark-submit --py-files gopensearch_spark.zip \\
        gopensearch_spark/jobs/build_index_job.py \\
        --input cat.db.web_pages --format iceberg \\
        --output s3://bucket/index --slices 64 \\
        --term-buckets 1024

Sandbox usage (no Iceberg catalog jar; same DataFrame program):

    python gopensearch_spark/jobs/build_index_job.py \\
        --input /tmp/web_pages --format parquet --output /tmp/idx

The job is resumable: each slice commits a checkpoint with lineage and
doc/term/byte metrics (gopensearch_spark/index/builder.py); re-running
after a crash skips committed slices. Prints one JSON metrics line.

Sizing: by default term_buckets is CORPUS-SIZED
(recommended_term_buckets — a constant per-task sort unit at any
scale); pass an explicit value only to pin a layout. slices ~ O(1000)
at 10^12 docs so one slice is a few 10^9 docs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="web_pages table: path (parquet) or catalog name (iceberg)")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--output", required=True, help="index output directory")
    p.add_argument("--slices", type=int, default=1)
    p.add_argument("--term-buckets", type=int, default=None,
                   help="postings bucket count; default: corpus-sized "
                        "(recommended_term_buckets, ~2M posting rows per "
                        "sorted bucket)")
    p.add_argument("--positions", action="store_true",
                   help="store per-posting position lists (phrase queries)")
    p.add_argument("--master", default=None, help="override master (tests); spark-submit normally provides it")
    args = p.parse_args(argv)

    from gopensearch_spark.index import build_index
    from gopensearch_spark.session import get_spark
    from gopensearch_spark.webtext import prepare_corpus

    spark = get_spark("gopensearch-build-index", master=args.master)
    if args.format == "iceberg":
        web_pages = spark.read.format("iceberg").load(args.input)
    else:
        web_pages = spark.read.parquet(args.input)

    t0 = time.time()
    corpus = prepare_corpus(web_pages)
    stats = build_index(
        spark,
        corpus,
        args.output,
        slices=args.slices,
        term_buckets=args.term_buckets,
        with_positions=args.positions,
        input_lineage=f"{args.format}:{args.input}",
    )
    elapsed = time.time() - t0
    print(json.dumps({
        "job": "build_index",
        "input": args.input,
        "output": args.output,
        "n_docs": stats["n_docs"],
        "total_tokens": stats["total_tokens"],
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(stats["n_docs"] / elapsed, 1),
    }))
    return 0


if __name__ == "__main__":
    # direct `python gopensearch_spark/jobs/<job>.py` invocation: the
    # script dir (not the repo root) is on sys.path; spark-submit
    # --py-files provides the package instead
    import os as _os

    sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))))
    sys.exit(main())
