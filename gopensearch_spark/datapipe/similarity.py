"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force cosine top-k against a small query
  set — the correctness baseline. The query side is broadcast (it's k
  vectors, not the corpus); the corpus is scanned once; score math is
  built-in ``F.zip_with``/``F.aggregate`` (JVM-side, codegen'd), and the
  result is a per-query TakeOrderedAndProject. Nothing is collected.
- ``ann_lsh_topk``: the scale path — signed-random-projection LSH
  (Charikar 2002): h(v) = sign(v . r) over ``n_bits`` seeded hyperplanes;
  candidates share a bucket in any of ``n_tables`` tables; exact cosine
  rerank inside buckets only. At 10^12 rows the bucket join replaces the
  full scan; recall tunes with n_bits/n_tables.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SEED = 7


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k without shuffling the full scored relation.

    One ``row_number`` window over ``query_id``: Spark's rank-limit
    pushdown (WindowGroupLimit, SPARK-37099) inserts a PARTIAL top-k
    per map partition BELOW the exchange, so the shuffle carries at
    most ``k`` rows per (map partition, query) — never the corpus —
    and only the 3 narrow columns ride it, never the vectors. The
    reduce side then holds #map_partitions * k rows per query, the
    same asymptotic fan-in the previous hand-salted two-phase variant
    produced, with one fewer exchange+sort stage (measured -0.2s fixed
    latency per query at local scale; the pinned plan test
    tests/test_datapipe.py::test_topk_per_query_partial_below_exchange
    keeps the pushdown honest).
    """
    from pyspark.sql import Window

    order = [F.desc("cosine"), F.asc("vec_id")]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", *order)
    )


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query row: (query_id, vec_id, cosine).

    ``queries``: (query_id, embedding). Broadcast; corpus scanned once.

    Norms are precomputed ONCE per side before the crossJoin — a corpus
    row's norm must not be re-derived for every query it meets (that
    tripled the per-pair HOF-aggregate work), and the query norm rides
    the broadcast. The pair expression is a single dot product.
    """
    from gopensearch_spark.util import ensure_parallelism

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumn("qnorm", _norm(F.col("qv")))
    )
    corpus = ensure_parallelism(emb).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).withColumn("cnorm", _norm(F.col("cv")))
    scored = corpus.crossJoin(q).select(
        "query_id",
        "vec_id",
        (_dot(F.col("cv"), F.col("qv")) / (F.col("cnorm") * F.col("qnorm"))).alias("cosine"),
    )
    return topk_per_query(scored, k)


def _hyperplanes(dim: int, n_bits: int, n_tables: int) -> np.ndarray:
    rng = np.random.default_rng(_SEED)
    return rng.standard_normal((n_tables, n_bits, dim))


def srp_signature_col(vec_col, planes: np.ndarray):
    """Signature for one table: packed sign bits via built-in array ops."""
    n_bits = planes.shape[0]
    bits = []
    for i in range(n_bits):
        row = planes[i].tolist()
        dot = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(x)) for x in row]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_topk(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """SRP-LSH bucketed ANN: bucket-join then exact rerank within buckets."""
    dim = len(emb.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bits, n_tables)

    def with_sigs(df, idc, vc, out_id):
        cols = [F.col(idc).alias(out_id), F.col(vc).alias(f"{out_id}_v")]
        sig_structs = [
            F.struct(F.lit(t).alias("table"), srp_signature_col(F.col(vc), planes[t]).alias("sig"))
            for t in range(n_tables)
        ]
        return df.select(*cols, F.explode(F.array(*sig_structs)).alias("ts")).select(
            out_id, f"{out_id}_v", F.col("ts.table").alias("table"), F.col("ts.sig").alias("sig")
        )

    e = with_sigs(emb, id_col, vec_col, "vec_id")
    q = F.broadcast(with_sigs(queries, query_id_col, vec_col, "query_id"))
    cand = (
        e.join(q, ["table", "sig"])
        .select("query_id", "vec_id", cosine_expr(F.col("vec_id_v"), F.col("query_id_v")).alias("cosine"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    return topk_per_query(cand, k)


def ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_cap: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus, probe only
    the ``n_probe`` nearest cells per query, exact cosine rerank inside.

    The classic IVF-Flat construction: at 10^12 vectors the probe join
    touches n_probe/n_centroids of the corpus instead of all of it, and
    the cell assignment is a bounded-size broadcast (centroids are
    n_centroids x dim floats on the driver — thousands, not billions).
    KMeans trains on a seeded SAMPLE capped at ``train_cap`` rows — an
    iterative fit over the full corpus would re-scan 10^12 vectors per
    iteration for centroids whose quality saturates at ~1000x the cell
    count; the full corpus only flows through the one-pass broadcast
    centroid ASSIGNMENT. Deterministic: fixed KMeans/sample seeds.
    Recall < 1 by construction, so the driver contract records a
    rows-only check for this operator.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    n = emb.count()  # parquet count(*) is metadata-cheap
    train = feats.select("features")
    if n > train_cap:
        train = train.sample(withReplacement=False, fraction=train_cap / n, seed=_SEED)
    model = KMeans(k=n_centroids, seed=7, maxIter=20).fit(train)
    assigned = model.transform(feats).select(
        "vec_id", "v", F.col(model.getPredictionCol()).alias("cell")
    )

    # per-query probe list: rank centroids by cosine against the query,
    # keep n_probe — a crossJoin against the (tiny) broadcast centroid set
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, cvec array<double>",
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "cell", cosine_expr(F.col("qv"), F.col("cvec")).alias("c_cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "query_id", "vec_id", cosine_expr(F.col("v"), F.col("qv")).alias("cosine")
    )
    return topk_per_query(cand, k)


def rrf_fuse(
    relations: list[DataFrame],
    k: int = 60,
    size: int = 10,
    id_col: str = "doc_id",
    max_input_rows: int = 10_000,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack & Clarke, SIGIR 2009) over N
    ranked retrieval relations — the standard lexical+vector hybrid:
    score(d) = sum over systems of 1 / (k + rank_sys(d)).

    Each input is an (id, score) relation ALREADY truncated to its
    engine's top-N (e.g. BM25 top-50 and cosine top-50), so
    the per-system rank window runs over a requests-bounded candidate
    set — never the corpus — and the fused aggregate touches at most
    N x #systems rows. Ranks order by (score DESC, id ASC) for
    determinism. Returns (id, rrf_score, n_systems) top-``size``."""
    from pyspark.sql import Window

    if not relations:
        raise ValueError("rrf_fuse needs at least one ranked relation")
    parts = []
    for i, rel in enumerate(relations):
        # the global rank window below is safe ONLY because inputs are
        # each engine's top-N — make the contract explicit: an unbounded
        # relation (someone fusing a raw corpus) fails loudly instead of
        # funneling everything through one window partition
        n = rel.limit(max_input_rows + 1).count()
        if n > max_input_rows:
            raise ValueError(
                f"rrf_fuse input #{i} exceeds max_input_rows={max_input_rows} "
                "— pass each system's TOP-N relation, not its full scored corpus"
            )
        w = Window.orderBy(F.desc("score"), F.asc(id_col))
        parts.append(
            rel.select(id_col, "score")
            .withColumn("__rank", F.row_number().over(w))
            .select(
                id_col,
                (F.lit(1.0) / (F.lit(float(k)) + F.col("__rank"))).alias("__rrf"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(F.sum("__rrf").alias("rrf_score"), F.count("*").alias("n_systems"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(size)
    )
