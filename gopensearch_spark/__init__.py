"""gopensearch-spark: a PySpark-native full-text index + query engine.

A from-scratch reimplementation of the capabilities of atomic77/gopensearch
(an Elasticsearch-compatible DSL server backed by SQLite FTS5) as an
idiomatic Spark engine:

- inverted-index build over a web-pages table (tokenize -> flat postings
  bucketed by term hash -> term/doc/corpus stats), `gopensearch_spark.index`
- one BM25 top-k query engine over the flat postings, a JVM-only
  Catalyst plan rank-identical to SQLite FTS5's bm25()
  (the reference's actual ranking backend, reference pkg/server/db.go:49),
  `gopensearch_spark.search`
- the ES query-DSL surface the reference implements in Go
  (reference pkg/dsl, pkg/server/sql.go), `gopensearch_spark.dsl`
- large-scale training-data pipeline operators (dedup, similarity search,
  text QC, multimodal plumbing), `gopensearch_spark.datapipe`

Everything is DataFrame-first: built-in pyspark.sql.functions where
expressible, Arrow-vectorized pandas UDFs for the index core, no
per-row Python UDFs and no driver-side materialization of data.
"""

__version__ = "0.1.0"
