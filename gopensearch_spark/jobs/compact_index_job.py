"""spark-submit entrypoint: compact a multi-slice index (run merge).

    spark-submit --py-files gopensearch_spark.zip \\
        gopensearch_spark/jobs/compact_index_job.py \\
        --src s3://bucket/index --dst s3://bucket/index_compacted

Performs the repartition-by-term merge back to one sorted run per term
(gopensearch_spark/index/builder.py compact_index) and prints one JSON
metrics line. The source index is left untouched.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--term-buckets", type=int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from gopensearch_spark.index import compact_index
    from gopensearch_spark.session import get_spark

    spark = get_spark("gopensearch-compact-index", master=args.master)
    t0 = time.time()
    stats = compact_index(spark, args.src, args.dst, term_buckets=args.term_buckets)
    print(json.dumps({
        "job": "compact_index",
        "src": args.src,
        "dst": args.dst,
        "n_docs": stats["n_docs"],
        "elapsed_sec": round(time.time() - t0, 3),
    }))
    return 0


if __name__ == "__main__":
    # direct `python gopensearch_spark/jobs/<job>.py` invocation: the
    # script dir (not the repo root) is on sys.path; spark-submit
    # --py-files provides the package instead
    import os as _os

    sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))))
    sys.exit(main())
