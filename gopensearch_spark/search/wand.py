"""Compatibility name for the BM25 top-k ``match``.

``wand_match`` is ``bm25_match``: the flat postings plan is the one
BM25 top-k engine (rank-identical to SQLite FTS5's bm25(), pinned by
tests/test_rank_identity.py). The name stays because the driver
contract (``__spark_entry__.py``), ``bench.py`` and the benchmark's
layer tracer still import it from this module.
"""

from gopensearch_spark.search.bm25 import bm25_match

wand_match = bm25_match
