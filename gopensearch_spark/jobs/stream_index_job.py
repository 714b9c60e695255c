"""spark-submit entrypoint: continuously index web_pages files landing
in a directory (Structured Streaming, exactly-once by construction).

Cluster usage (the north-rule deployment shape):

    zip -r gopensearch_spark.zip gopensearch_spark
    spark-submit --py-files gopensearch_spark.zip \\
        gopensearch_spark/jobs/stream_index_job.py \\
        --input s3://bucket/web_pages_inbox --index s3://bucket/index \\
        --checkpoint s3://bucket/index_cp --term-buckets 1024 \\
        --max-files-per-trigger 64

Sandbox usage:

    python gopensearch_spark/jobs/stream_index_job.py \\
        --input /tmp/inbox --index /tmp/idx --checkpoint /tmp/cp --drain

`--drain` (trigger availableNow) indexes everything currently present
and exits — re-running after new files land indexes ONLY the delta
(streaming checkpoint + per-batch commit records); without it the query
runs until interrupted. Every micro-batch is replay-idempotent
(batch_id-partitioned dynamic overwrite), folds one (n_docs,
total_tokens) delta row into corpus stats (O(#batches), never a
doc_stats re-scan), and rebuilds the sorted term_dict so prefix queries
keep partition-pruning. The bucket count and the positions flag default
to those of the index already at ``--index`` (a batch build or an
earlier stream); a conflicting explicit value fails before any write.
Prints one JSON metrics line on exit.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--term-buckets", type=int, default=None,
                   help="default: the existing index's, else 16")
    p.add_argument("--positions", action="store_true", default=None,
                   help="default: the existing index's, else off")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--drain", action="store_true",
                   help="trigger availableNow: index the backlog and exit")
    a = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gopensearch-stream-index").getOrCreate()
    from gopensearch_spark.streaming import start_streaming_index

    q = start_streaming_index(
        spark,
        a.input,
        a.index,
        a.checkpoint,
        term_buckets=a.term_buckets,
        with_positions=a.positions,
        available_now=a.drain,
        max_files_per_trigger=a.max_files_per_trigger,
    )
    q.awaitTermination()
    from gopensearch_spark.index.builder import read_corpus_stats

    stats = read_corpus_stats(a.index)
    print(json.dumps({"metric": "stream_index", "index": a.index, **stats}))
    return 0


if __name__ == "__main__":
    # direct `python gopensearch_spark/jobs/<job>.py` invocation: the
    # script dir (not the repo root) is on sys.path; spark-submit
    # --py-files provides the package instead
    import os as _os

    sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))))
    sys.exit(main())
