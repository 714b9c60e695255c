"""spark-submit entrypoint: compact an index in place (run merge).

    spark-submit --py-files gopensearch_spark.zip \\
        gopensearch_spark/jobs/compact_index_job.py --index s3://bucket/index

Merges the posting runs back to one sorted run per term and commits the
index's next generation in its manifest (gopensearch_spark/index/builder.py
compact_streaming_index). Prints one JSON metrics line with the
committed ``generation``, read back from the manifest.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index", required=True)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from gopensearch_spark.index import compact_streaming_index, read_manifest
    from gopensearch_spark.session import get_spark

    spark = get_spark("gopensearch-compact-index", master=args.master)
    t0 = time.time()
    stats = compact_streaming_index(spark, args.index)
    print(json.dumps({
        "job": "compact_index",
        "index": args.index,
        "generation": read_manifest(args.index)["generation"],
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
