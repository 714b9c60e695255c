"""ES `fuzzy` query (and `match` + `fuzziness`) over the inverted index.

The reference has no fuzzy matching at all — its `match` is term
equality ("glorified terms query", reference pkg/server/sql.go:126-141)
and FTS5 offers no edit-distance operator — so this is an ES-correct
extension in the same spirit as multi_match: the ES surface a real
Elasticsearch 7.17 client would expect, re-expressed over our index.

Semantics (pinned, oracle-checked):

- the value must tokenize to a single token `t` (ES fuzzy is a
  term-level query; analysis is the same unicode61 fold as indexing),
- `fuzziness`: an integer edit distance, or AUTO (the ES ladder:
  0 for len(t) <= 2, 1 for 3..5, 2 for >= 6),
- expansion = vocabulary terms with `levenshtein(term, t) <= d` that
  share the first `prefix_length` characters with `t`, ranked by
  (df DESC, term ASC) and truncated to `max_expansions` (ES default 50).
  Distance is plain Levenshtein (Spark's and DuckDB's operator): a
  transposition costs 2 edits, where Lucene's default
  (`transpositions=true`, Damerau) costs 1 — a documented divergence,
- scoring = EXACTLY an OR match over the expanded terms: per-term
  df/idf, per-doc contributions sum — the same `a OR b OR c` unit
  semantics as the rest of this engine (FTS5-pinned), served by
  ``bm25_match`` for top-k and the unlimited relation for `k=None`.

Scale shape: the expansion runs on the `term_dict` side table —
(term, df), O(distinct terms), range-partitioned and sorted — never on
postings. With `prefix_length > 0` the startswith predicate prunes the
sorted runs via parquet min/max exactly like prefix_match; the
Levenshtein itself is JVM-side (`F.levenshtein` with the threshold
argument, which exits early past `d`). Only the <= max_expansions
surviving terms (a driver-side list, bounded by contract) reach the
postings index, where they serve like any other multi-term OR query.
When the dict is stale (postings newer than the last finalize — the
freshness rule of ``readers.term_dict``) we fall back to aggregating
`term_stats`, which is df-delta-sized, never postings-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EMPTY = "doc_id long, score double"

MAX_EXPANSIONS_DEFAULT = 50  # ES fuzzy/max_expansions default


def auto_fuzziness(token: str, fuzziness: str | int = "AUTO") -> int:
    """Resolve an ES fuzziness spec to an edit distance for ``token``.

    Accepts an int, a numeric string, "" (treated as AUTO), "AUTO", or
    "AUTO:low,high" (custom ladder thresholds).
    """
    if isinstance(fuzziness, int):
        return fuzziness
    s = str(fuzziness).strip().upper()
    if s in ("", "AUTO"):
        low, high = 3, 6
    elif s.startswith("AUTO:"):
        low, high = (int(x) for x in s[5:].split(","))
    else:
        return int(s)
    n = len(token)
    if n < low:
        return 0
    if n < high:
        return 1
    return 2


def _vocabulary(spark: SparkSession, index_dir: str) -> DataFrame:
    """(term, df) over the whole index: the sorted ``term_dict`` side
    table when fresh, else the df-delta ``term_stats`` fold (postings
    appended without finalize must degrade, never silently miss terms)."""
    from gopensearch_spark.search.readers import index_table, term_dict

    td = term_dict(spark, index_dir)
    if td is not None:
        return td
    tstats = index_table(spark, index_dir, "term_stats")
    return tstats.groupBy("term").agg(F.sum("df").alias("df"))


def fuzzy_expand(
    spark: SparkSession,
    index_dir: str,
    token: str,
    distance: int,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS_DEFAULT,
) -> list[str]:
    """Vocabulary terms within ``distance`` edits of ``token``, ranked
    (df DESC, term ASC), truncated to ``max_expansions``."""
    vocab = _vocabulary(spark, index_dir)
    if prefix_length > 0:
        vocab = vocab.where(F.col("term").startswith(token[:prefix_length]))
    # cheap JVM-side pre-filter (|len diff| <= d) before the edit distance;
    # the threshold form of levenshtein abandons rows past `distance`
    vocab = vocab.where(
        F.abs(F.length("term") - F.lit(len(token))) <= F.lit(distance)
    ).where(F.levenshtein(F.col("term"), F.lit(token), distance) >= 0)
    rows = (
        vocab.orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def fuzzy_match(
    spark: SparkSession,
    index_dir: str,
    value: str,
    fuzziness: str | int = "AUTO",
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS_DEFAULT,
    k: int | None = 10,
) -> DataFrame:
    """Top-k BM25 for a fuzzy term (``k=None`` = unordered scoring
    relation for the Engine's filter composition)."""
    from gopensearch_spark.analysis import tokenize
    from gopensearch_spark.search.bm25 import bm25_match, bm25_scores

    toks = tokenize(value)
    if len(toks) != 1:
        raise ValueError(f"fuzzy value must be a single token, got {toks!r}")
    token = toks[0]
    d = auto_fuzziness(token, fuzziness)
    if d <= 0:
        terms: list[str] = [token]
    else:
        terms = fuzzy_expand(
            spark, index_dir, token, d, prefix_length, max_expansions
        )
    if not terms:
        return spark.createDataFrame([], _EMPTY)
    if k is None:
        return bm25_scores(spark, index_dir, terms, mode="or")
    return bm25_match(spark, index_dir, terms, k=k, mode="or")


def regexp_expand(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    case_insensitive: bool = False,
    max_expansions: int = 1000,
) -> list[str]:
    """Vocabulary terms the pattern matches IN FULL (ES/Lucene regexp
    anchoring), ranked (df DESC, term ASC), truncated to
    ``max_expansions``. Dialect is Java regex (Spark ``rlike``) — a
    documented divergence from Lucene's operator set; the common
    ES-regexp operators (literals, ``.`` ``*`` ``+`` ``?`` ``|``
    ``()`` ``[]`` ``{}``) mean the same in both.

    Scale shape: same as fuzzy — the scan is the (term, df) side table,
    O(distinct terms), never postings; the surviving driver-side list is
    bounded by ``max_expansions`` before it touches the index."""
    anchored = f"^(?:{pattern})$"
    if case_insensitive:
        anchored = "(?i)" + anchored
    vocab = _vocabulary(spark, index_dir).where(F.col("term").rlike(anchored))
    rows = (
        vocab.orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def regexp_match(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    case_insensitive: bool = False,
    max_expansions: int = 1000,
    k: int | None = 10,
) -> DataFrame:
    """Top-k BM25 for a whole-term regexp (``k=None`` = unordered
    scoring relation). Scoring = an OR over the expanded terms, the same
    unit semantics as fuzzy_match (each matched vocabulary term keeps
    its OWN df/idf; per-doc contributions sum)."""
    from gopensearch_spark.search.bm25 import bm25_match, bm25_scores

    terms = regexp_expand(
        spark, index_dir, pattern, case_insensitive, max_expansions
    )
    if not terms:
        return spark.createDataFrame([], _EMPTY)
    if k is None:
        return bm25_scores(spark, index_dir, terms, mode="or")
    return bm25_match(spark, index_dir, terms, k=k, mode="or")


def term_suggest(
    spark: SparkSession,
    index_dir: str,
    token: str,
    size: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
) -> list[tuple[str, int, int]]:
    """ES term-suggester candidates for one analyzed token:
    vocabulary terms within ``max_edits`` (sharing the first
    ``prefix_length`` chars), EXCLUDING the token itself, ranked
    (edit distance ASC, doc freq DESC, term ASC), ``size``-truncated.
    Returns [(term, distance, df)].

    Same scale shape as fuzzy_expand: the scan is the sorted (term, df)
    side table — O(distinct terms) with parquet min/max pruning on the
    prefix — never postings; only ``size`` rows reach the driver."""
    vocab = _vocabulary(spark, index_dir)
    if prefix_length > 0:
        vocab = vocab.where(F.col("term").startswith(token[:prefix_length]))
    vocab = (
        vocab.where(F.col("term") != F.lit(token))
        .where(F.abs(F.length("term") - F.lit(len(token))) <= F.lit(max_edits))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(token), max_edits))
        .where(F.col("dist") >= 0)
    )
    rows = (
        vocab.orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(size))
        .select("term", "dist", "df")
        .collect()
    )
    return [(r["term"], int(r["dist"]), int(r["df"])) for r in rows]


def term_exists(spark: SparkSession, index_dir: str, token: str) -> bool:
    """Is ``token`` in the index vocabulary? (suggest_mode=missing
    gate; a single pruned term_dict lookup)."""
    return bool(
        _vocabulary(spark, index_dir)
        .where(F.col("term") == F.lit(token))
        .limit(1)
        .collect()
    )


def prefix_suggest(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    size: int = 5,
) -> list[tuple[str, int]]:
    """Completion-suggester candidates: vocabulary terms starting with
    ``prefix``, ranked hot-first (doc freq DESC, term ASC), truncated
    to ``size``. Returns [(term, df)].

    Scale shape: the scan is the SORTED (term, df) side table — the
    startswith predicate is a range predicate on the sort key, so
    parquet min/max pruning skips every row group outside the prefix
    range; postings are never touched and only ``size`` rows reach the
    driver (real ES serves this from an in-memory FST on a dedicated
    completion field; the sorted term_dict is this engine's equivalent
    structure)."""
    vocab = _vocabulary(spark, index_dir).where(
        F.col("term").startswith(prefix)
    )
    rows = (
        vocab.orderBy(F.desc("df"), F.asc("term"))
        .limit(int(size))
        .select("term", "df")
        .collect()
    )
    return [(r["term"], int(r["df"])) for r in rows]
