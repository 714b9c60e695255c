"""spark-submit entrypoint: serve BM25 top-k queries over a built index.

Cluster usage (the north-rule deployment shape — same --py-files zip as
the build job):

    spark-submit --py-files gopensearch_spark.zip \\
        gopensearch_spark/jobs/query_job.py \\
        --index s3://bucket/index \\
        --query "spark join" --mode and --k 10

Batch mode reads one query per line and reports per-query latency plus
the p50/p95 summary the baseline tracks:

    python gopensearch_spark/jobs/query_job.py \\
        --index /tmp/idx --queries-file queries.txt --repeat 3

Each query runs as ``bm25_match``, the flat-postings Catalyst plan
(rank-identical to FTS5, fuzz-pinned). `warm_index` is called once up
front, exactly like a serving process.
Prints one JSON line per query and one summary line.
"""

from __future__ import annotations

import argparse
import json
import time


def _percentile(xs: list[float], p: float) -> float:
    ys = sorted(xs)
    i = min(len(ys) - 1, max(0, int(round(p * (len(ys) - 1)))))
    return ys[i]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index", required=True, help="built index directory")
    p.add_argument("--query", action="append", default=[],
                   help="query string (repeatable)")
    p.add_argument("--queries-file", default=None,
                   help="file with one query per line")
    p.add_argument("--mode", default="and", choices=["and", "or"])
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--repeat", type=int, default=1,
                   help="timed repetitions per query (latency stats use "
                        "the per-query minimum — steal-robust)")
    p.add_argument("--master", default=None,
                   help="override master (tests); spark-submit normally provides it")
    args = p.parse_args(argv)

    queries = list(args.query)
    if args.queries_file:
        with open(args.queries_file) as f:
            queries += [ln.strip() for ln in f if ln.strip()]
    if not queries:
        raise SystemExit("no queries: pass --query or --queries-file")

    from gopensearch_spark.search import bm25_match, warm_index
    from gopensearch_spark.session import get_spark

    spark = get_spark("gopensearch-query", master=args.master)
    warm_index(spark, args.index)

    lats: list[float] = []
    for q in queries:
        best = None
        rows = []
        for _ in range(max(1, args.repeat)):
            t0 = time.time()
            df = bm25_match(spark, args.index, q, k=args.k, mode=args.mode)
            rows = [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        lats.append(best)
        print(json.dumps({
            "query": q, "mode": args.mode, "k": args.k,
            "latency_sec": round(best, 4),
            "hits": [{"doc_id": d, "score": s} for d, s in rows],
        }))
    print(json.dumps({
        "job": "query", "index": args.index,
        "n_queries": len(queries),
        "p50_sec": round(_percentile(lats, 0.5), 4),
        "p95_sec": round(_percentile(lats, 0.95), 4),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
