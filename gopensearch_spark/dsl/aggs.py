"""Aggregation compiler: ES agg tree -> DataFrame aggregations.

The reference emits one SQL subquery per top-level agg label and
re-scans the filtered table each time (reference pkg/server/sql.go:35-60),
with sub-aggregations as scalar subselects spliced into the parent's
SELECT list (sql.go:279-297). We compile each label over ONE shared
filtered DataFrame (caller caches it) and fold metric sub-aggs into the
same groupBy — Spark's partial+final hash aggregation does in one pass
what the reference does with subquery gymnastics.

ES-correct semantics implemented (reference divergences documented):
- terms agg: top-`size` buckets by doc_count desc (the reference parses
  `size` but never applies it, and reports doc_count 0 for terms
  buckets — sql.go:241-250, db.go:131-137),
- date_histogram: real `fixed_interval`/`calendar_interval` bucketing
  (the reference groups by the raw value, TODO at sql.go:255-257),
- avg/max metrics (the reference's top-level AVG emits malformed SQL —
  missing paren at sql.go:268; ours is just F.avg).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gopensearch_spark.dsl import model
from gopensearch_spark.dsl.compiler import CompileContext

_INTERVAL_RE = re.compile(r"^(\d+)(ms|s|m|h|d)$")
_UNIT_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
_CALENDAR_TRUNC = {
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "1w": "week",
    "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter",
    "year": "year", "1y": "year",
}


def fixed_interval_ms(spec: str) -> int:
    m = _INTERVAL_RE.match(spec)
    if not m:
        raise ValueError(f"unsupported fixed_interval {spec!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)]


def date_bucket_expr(ctx: CompileContext, dh: model.DateHistogram) -> Column:
    """Bucket key as epoch-millis long (ES date_histogram key form)."""
    from gopensearch_spark.dsl.compiler import strip_keyword

    col = ctx.resolve(dh.field)
    ftype = ctx.field_type(dh.field)
    fmt = ctx.date_fields.get(strip_keyword(dh.field))
    is_ts = isinstance(ftype, (T.TimestampType, T.TimestampNTZType))
    if isinstance(ftype, T.TimestampNTZType):
        col = col.cast("timestamp")  # session TZ pinned UTC -> same instant
    if is_ts:
        millis = F.unix_millis(col)
    elif fmt in ("epoch_millis", "epoch_second"):
        # template-mapped date field: raw epoch NUMBER (parquet/JSON
        # ingest) or write-time RFC3339 string (bulk ingest) — same
        # duality as compiler._range_bound
        s = col.cast("string")
        num = s.try_cast("long")
        scale = 1000 if fmt == "epoch_second" else 1
        millis = F.when(num.isNotNull(), num * scale).otherwise(
            F.unix_millis(F.try_to_timestamp(s))
        )
    else:
        millis = col.cast("long")
    if dh.calendar_interval:
        unit = _CALENDAR_TRUNC.get(dh.calendar_interval)
        if unit is None:
            raise ValueError(f"unsupported calendar_interval {dh.calendar_interval!r}")
        ts = col if is_ts else F.timestamp_millis(millis)
        return F.unix_millis(F.date_trunc(unit, ts))
    iv = fixed_interval_ms(dh.fixed_interval or "1s")
    return (F.floor(millis / iv) * iv).cast("long")


# ES auto_date_histogram rounding ladder (smallest -> largest). Each
# entry is (fixed_interval, calendar_interval, approx_ms_for_fit) — the
# calendar steps use an approximate width for the fit test only (the
# actual bucketing truncates on real calendar boundaries).
_AUTO_DH_LADDER = [
    ("1s", "", 1000), ("5s", "", 5000), ("10s", "", 10_000), ("30s", "", 30_000),
    ("1m", "", 60_000), ("5m", "", 300_000), ("10m", "", 600_000), ("30m", "", 1_800_000),
    ("1h", "", 3_600_000), ("3h", "", 10_800_000), ("12h", "", 43_200_000),
    ("1d", "", 86_400_000), ("7d", "", 604_800_000),
    ("", "1M", 2_592_000_000), ("", "1q", 7_776_000_000), ("", "1y", 31_536_000_000),
]


def _auto_dh_interval(lo_ms: int, hi_ms: int, buckets: int) -> tuple[str, str]:
    """Smallest ladder interval whose bucket count over [lo, hi] fits in
    `buckets`. Returns (fixed_interval, calendar_interval) — exactly one
    non-empty. Spans wider than `buckets` years degrade to yearly
    buckets (ES continues the ladder with 5y/10y/...; multi-year
    truncation needs a custom key expression we don't grow until a
    fixture needs it)."""
    for fixed, cal, approx in _AUTO_DH_LADDER:
        nb = (hi_ms // approx) - (lo_ms // approx) + 1
        if nb <= buckets:
            return fixed, cal
    return "", "1y"


def _metric_col(ctx: CompileContext, af: model.AggField) -> Column:
    """Resolve a metric field honoring the ES `missing` parameter:
    docs without the field take the substitute value instead of being
    dropped from the aggregate. The substitute keeps its natural type
    (numeric when it parses as one, else a string literal) and the
    COLUMN is never force-cast — a numeric `missing` on a keyword field
    must not null the real values (cardinality/min/max on strings)."""
    col = ctx.resolve(af.field)
    if af.missing != "":
        try:
            lit = F.lit(float(af.missing))
        except ValueError:
            lit = F.lit(af.missing)
        col = F.coalesce(col, lit)
    return col


def _metric_expr(ctx: CompileContext, sub: model.Aggregate) -> Column | None:
    if sub.avg is not None:
        return F.avg(_metric_col(ctx, sub.avg).cast("double"))
    if sub.max is not None:
        return F.max(_metric_col(ctx, sub.max))
    if sub.min is not None:
        return F.min(_metric_col(ctx, sub.min))
    if sub.sum is not None:
        return F.sum(_metric_col(ctx, sub.sum).cast("double"))
    if sub.cardinality is not None:
        # exact distinct; ES uses HLL — we prefer exactness (Spark's
        # approx_count_distinct is one call away if scale demands)
        return F.countDistinct(_metric_col(ctx, sub.cardinality))
    if sub.value_count is not None:
        # ES value_count: number of non-null values of the field
        return F.count(_metric_col(ctx, sub.value_count))
    if sub.weighted_avg is not None:
        v = ctx.resolve(sub.weighted_avg.value_field).cast("double")
        w = ctx.resolve(sub.weighted_avg.weight_field).cast("double")
        # ES skips docs missing the value field entirely: a null value with a
        # non-null weight must not inflate the denominator, so both sums are
        # gated on value presence.
        return F.sum(F.when(v.isNotNull(), v * w)) / F.sum(F.when(v.isNotNull(), w))
    return None


def _metric_exprs(ctx: CompileContext, aggs: dict[str, model.Aggregate]) -> list[Column]:
    """Metric sub-aggs -> agg expressions named by their label."""
    exprs = []
    for sublabel, sub in aggs.items():
        e = _metric_expr(ctx, sub)
        if e is None:
            raise ValueError(f"unsupported sub-aggregation under {sublabel!r} "
                             "(reference supports single metric under terms, README.md:58-59)")
        exprs.append(e.alias(sublabel))
    return exprs


def _nested_struct(fields: list[tuple[list[str], Column]]) -> Column:
    """A struct holding each (path, column) at its path, so fields that
    share a leaf name (user.name, owner.name) keep distinct parents. A
    whole field wins over a path inside it (user beats user.name)."""
    tree: dict = {}
    for parts, col in fields:
        node = tree
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):
                break
        else:
            node[parts[-1]] = col

    def build(node: dict) -> Column:
        return F.struct(*[(build(v) if isinstance(v, dict) else v).alias(k)
                          for k, v in node.items()])

    return build(tree)


def _top_hits_arrays(
    ctx: CompileContext, filtered: DataFrame, keyc: Column,
    th_subs: dict[str, model.TopHits],
) -> DataFrame:
    """Per-bucket top-N hits as one bounded array column per label:
    row_number() over (partition by bucket key) caps each bucket to N
    rows BEFORE any collect, so the per-group state after the key
    shuffle is O(N) structs — never a bucket's full membership. Sort
    must be total for determinism; the index id column is appended as a
    tie-break when the request's sort doesn't already end with it."""
    from pyspark.sql import Window

    from gopensearch_spark.util import ensure_parallelism

    out = None
    for label, th in th_subs.items():
        src = th.source or [
            c for c in filtered.columns if not c.startswith("__")
        ]
        # Project to what the window actually needs BEFORE the shuffle —
        # bucket key, sort keys (materialized as computed columns) and
        # the _source columns, never the whole row — and spread an
        # under-partitioned scan: the map-side partial top-N
        # (WindowGroupLimit) sorts per input partition, so a single-file
        # table would otherwise sort the entire relation in ONE task.
        proj = [keyc.alias("__th_key")]
        ordcols = []
        if not th.sort:
            if "score" not in filtered.columns:
                raise ValueError(
                    f"top_hits {label!r} requires an explicit `sort` "
                    "(no _score: the query is not full-text scored)"
                )
            proj.append(F.col("score").alias("__ord_0"))
            ordcols = [F.desc("__ord_0")]
            sorted_fields = ["score"]
        else:
            for i, s in enumerate(th.sort):
                proj.append(ctx.resolve(s.field).alias(f"__ord_{i}"))
                ordcols.append(
                    F.desc(f"__ord_{i}") if s.order.lower() == "desc"
                    else F.asc(f"__ord_{i}")
                )
            sorted_fields = [s.field for s in th.sort]
        if ctx.id_col and ctx.id_col not in sorted_fields:
            ordcols.append(F.asc(ctx.id_col))  # deterministic total order
        # each _source field rides a stable alias; the hit struct is
        # rebuilt from the aliases with dotted paths nested, as ES
        # returns them (user.name -> {"user": {"name": ...}})
        for i, c in enumerate(src):
            proj.append(F.col(c).alias(f"__src_{i}"))
        if ctx.id_col:
            proj.append(F.col(ctx.id_col))
        narrowed = ensure_parallelism(filtered.select(*proj), factor=1,
                                      bytes_per_partition=1 << 20)
        w = Window.partitionBy(F.col("__th_key")).orderBy(*ordcols)
        ranked = (
            narrowed.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= th.size)
        )
        arr = ranked.groupBy(F.col("__th_key").alias("key")).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct(
                    F.col("__rn").alias("rn"),
                    _nested_struct([(c.split("."), F.col(f"__src_{i}"))
                                    for i, c in enumerate(src)]).alias("hit"),
                ))),
                lambda x: x["hit"],
            ).alias(label)
        )
        out = arr if out is None else out.join(arr, "key", "full")
    return out


_PARENT_PIPELINE_FIELDS = (
    "cumulative_sum", "derivative", "bucket_script", "bucket_selector",
    "moving_fn", "serial_diff", "bucket_sort",
)


def _is_parent_pipeline(s: model.Aggregate) -> bool:
    return any(getattr(s, f) is not None for f in _PARENT_PIPELINE_FIELDS)


def _split_pipeline(aggs: dict[str, model.Aggregate]):
    pipe = {k: s for k, s in aggs.items() if _is_parent_pipeline(s)}
    metric = {k: s for k, s in aggs.items() if k not in pipe}
    return metric, pipe


def _eval_bucket_script(script: str, cols: dict[str, Column]) -> Column:
    """Evaluate the painless-arithmetic subset ES bucket_script /
    bucket_selector use in practice: `params.<name>` references plus
    arithmetic (+ - * / %), comparisons and parentheses — e.g.
    `params.total / params.cnt * 100`, `params.rate > 0.5`.
    Delegates to the shared evaluator (compiler.eval_param_script):
    the expression stays a whole-stage-codegen Catalyst Column — never
    a Python UDF; null inputs propagate (ES gap_policy=skip)."""
    from gopensearch_spark.dsl.compiler import eval_param_script

    return eval_param_script(script, cols)


_MOVING_FN_RE = re.compile(
    r"^\s*MovingFunctions\.(max|min|sum|unweightedAvg|stdDev)\(\s*values\s*[,)]"
)


def _apply_pipeline(
    out: DataFrame, pipe: dict[str, model.Aggregate], metric_labels,
) -> DataFrame:
    """Parent pipeline aggs over the ORDERED bucket relation:
    cumulative_sum / derivative / moving_fn / serial_diff /
    bucket_script, then bucket_selector, then bucket_sort (the ES
    execution order: selectors see every computed column; bucket_sort
    re-orders/truncates last).

    Every window here has no partition key, but its input is the bucket
    AXIS (range/interval-bounded), never the data volume — a few
    thousand rows at any corpus size, so the single-task window is safe
    by construction."""
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("key"))
    avail = set(metric_labels)

    def src_col(path: str) -> Column:
        if path == "_count":
            return F.col("doc_count").cast("double")
        if path in avail:
            return F.col(path).cast("double")
        raise ValueError(
            f"buckets_path {path!r} is not `_count` or a sibling "
            f"metric/pipeline label ({sorted(avail)!r})"
        )

    selectors = {k: s for k, s in pipe.items() if s.bucket_selector is not None}
    sorts = {k: s for k, s in pipe.items() if s.bucket_sort is not None}
    for label, s in pipe.items():
        if label in selectors or label in sorts:
            continue
        if s.cumulative_sum is not None:
            # window sum ignores nulls, so zero-filled empty buckets
            # carry the running total forward (ES gap_policy=skip)
            out = out.withColumn(label, F.sum(src_col(s.cumulative_sum.buckets_path)).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ))
        elif s.derivative is not None:
            # ES derivative, gap_policy=skip: difference against the
            # LAST NON-NULL previous bucket; first bucket (and buckets
            # whose own value is null) report null
            src = src_col(s.derivative.buckets_path)
            prev = F.last(src, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            out = out.withColumn(label, src - prev)
        elif s.moving_fn is not None:
            m = s.moving_fn
            fn = _MOVING_FN_RE.match(m.script)
            if not fn:
                raise ValueError(
                    f"moving_fn script {m.script!r} is not a supported "
                    "MovingFunctions builtin (max/min/sum/unweightedAvg/stdDev)"
                )
            # ES window [i-window+shift, i-1+shift]: shift=0 (default)
            # covers the `window` buckets BEFORE the current one
            fw = w.rowsBetween(-m.window + m.shift, -1 + m.shift)
            src = src_col(m.buckets_path)
            agg = {
                "max": F.max, "min": F.min, "sum": F.sum,
                "unweightedAvg": F.avg, "stdDev": F.stddev_pop,
            }[fn.group(1)]
            out = out.withColumn(label, agg(src).over(fw))
        elif s.serial_diff is not None:
            src = src_col(s.serial_diff.buckets_path)
            out = out.withColumn(
                label, src - F.lag(src, s.serial_diff.lag).over(w)
            )
        elif s.bucket_script is not None:
            cols = {n: src_col(p) for n, p in s.bucket_script.buckets_path.items()}
            out = out.withColumn(
                label, _eval_bucket_script(s.bucket_script.script, cols)
            )
        avail.add(label)
    for label, s in selectors.items():
        cols = {n: src_col(p) for n, p in s.bucket_selector.buckets_path.items()}
        pred = _eval_bucket_script(s.bucket_selector.script, cols)
        # null predicate (gap bucket) drops the bucket, the ES behavior
        out = out.where(F.coalesce(pred.cast("boolean"), F.lit(False)))
    for label, s in sorts.items():
        bs = s.bucket_sort
        order = []
        for so in bs.sort:
            c = (F.col("key") if so.field == "_key"
                 else F.col("doc_count") if so.field == "_count"
                 else src_col(so.field))
            order.append(c.desc() if so.order.lower() == "desc" else c.asc())
        if order:
            out = out.orderBy(*order)
        if bs.from_:
            out = out.offset(bs.from_)
        if bs.size is not None:
            out = out.limit(bs.size)
    return out


def compile_agg(
    ctx: CompileContext, filtered: DataFrame, agg: model.Aggregate,
    background: DataFrame | None = None,
    index_spec=None,
) -> tuple[str, DataFrame]:
    """Compile one labeled aggregation; returns (kind, result DF).

    kinds: 'buckets' -> (key, doc_count, *metric labels);
           'metric'  -> single row (value).
    ``background`` is the index's UNFILTERED relation (significant_terms
    contrasts the query's foreground against it); ``index_spec`` the
    Engine IndexSpec (significant_text reads its term_stats).
    """
    if agg.terms is not None:
        kc = ctx.resolve(agg.terms.field)
        if agg.terms.missing is not None:
            # ES `missing`: null-field docs bucket under the substitute
            kc = F.coalesce(kc, F.lit(agg.terms.missing))
        else:
            # ES default: docs without the field produce NO bucket
            filtered = filtered.where(kc.isNotNull())
        # ES include/exclude: value filtering BEFORE the top-size
        # truncation — regex (whole-key anchored) or exact-value list
        ks = kc.cast("string")
        if agg.terms.include is not None:
            inc = agg.terms.include
            filtered = filtered.where(
                ks.isin([str(v) for v in inc]) if isinstance(inc, list)
                else ks.rlike(f"^(?:{inc})$"))
        if agg.terms.exclude is not None:
            exc = agg.terms.exclude
            filtered = filtered.where(
                ~ks.isin([str(v) for v in exc]) if isinstance(exc, list)
                else ~ks.rlike(f"^(?:{exc})$"))
        key = kc.alias("key")
        # ES `order`: _count (default) / _key / a metric sub-agg label —
        # the sort rides the same single groupBy; ties break by key asc
        okey, odir = agg.terms.order_key, agg.terms.order_dir
        th_subs = {k: s.top_hits for k, s in agg.aggs.items()
                   if s.top_hits is not None}
        rest = {k: s for k, s in agg.aggs.items() if s.top_hits is None}
        metric_subs, pipe_subs = _split_pipeline(rest)
        if okey == "_count":
            ocol = F.col("doc_count")
        elif okey == "_key":
            ocol = F.col("key")
        elif okey in metric_subs:
            ocol = F.col(okey)
        else:
            raise ValueError(
                f"terms order {okey!r} is not _count, _key, or a metric "
                f"sub-aggregation label ({sorted(agg.aggs)!r})"
            )
        order = [ocol.asc() if odir == "asc" else ocol.desc(), F.asc("key")]
        out = (
            filtered.groupBy(key)
            .agg(F.count("*").alias("doc_count"), *_metric_exprs(ctx, metric_subs))
            .orderBy(*order)
            .limit(agg.terms.size)
        )
        if pipe_subs:
            # bucket_script/bucket_selector/bucket_sort over the terms
            # buckets (the classic "filter/sort terms buckets by a
            # metric" pattern); window-shaped pipelines (cumulative_sum
            # etc.) run over key order, matching their histogram
            # semantics
            out = _apply_pipeline(out, pipe_subs, set(metric_subs))
            if not any(s.bucket_sort is not None for s in pipe_subs.values()):
                out = out.orderBy(*order)
        if th_subs:
            # join the bounded per-bucket hit arrays onto the surviving
            # top-size buckets only (left join keeps the truncation),
            # then restore the bucket order the join discarded
            arrays = _top_hits_arrays(ctx, filtered, kc, th_subs)
            out = out.join(arrays, "key", "left").orderBy(*order)
            return "tophits", out
        return "buckets", out
    if agg.multi_terms is not None:
        mt = agg.multi_terms
        if not mt.terms:
            raise ValueError("multi_terms requires at least one term source")
        cols = [ctx.resolve(f) for f in mt.terms]
        # ES contract: a doc missing ANY key field produces no bucket
        for c in cols:
            filtered = filtered.where(c.isNotNull())
        # bucket key = the `|`-joined key_as_string ES reports; the
        # groupBy key IS the joined string, so this stays ONE hash-agg
        # pass exactly like `terms`
        key = F.concat_ws("|", *[c.cast("string") for c in cols]).alias("key")
        metric_subs, pipe_subs = _split_pipeline(agg.aggs)
        okey, odir = mt.order_key, mt.order_dir
        if okey == "_count":
            ocol = F.col("doc_count")
        elif okey == "_key":
            ocol = F.col("key")
        elif okey in metric_subs:
            ocol = F.col(okey)
        else:
            raise ValueError(
                f"multi_terms order {okey!r} is not _count, _key, or a "
                f"metric sub-aggregation label ({sorted(agg.aggs)!r})"
            )
        order = [ocol.asc() if odir == "asc" else ocol.desc(), F.asc("key")]
        out = (
            filtered.groupBy(key)
            .agg(F.count("*").alias("doc_count"), *_metric_exprs(ctx, metric_subs))
            .orderBy(*order)
            .limit(mt.size)
        )
        if pipe_subs:
            out = _apply_pipeline(out, pipe_subs, set(metric_subs))
            if not any(s.bucket_sort is not None for s in pipe_subs.values()):
                out = out.orderBy(*order)
        return "buckets", out
    if agg.auto_date_histogram is not None:
        import dataclasses

        ah = agg.auto_date_histogram
        # min/max probe: ONE two-scalar aggregate (bounded, never
        # data-sized), then delegate to the date_histogram machinery
        # with the chosen ladder interval
        probe = model.DateHistogram(field=ah.field, fixed_interval="1ms")
        millis = date_bucket_expr(ctx, probe)
        row = filtered.agg(F.min(millis).alias("lo"), F.max(millis).alias("hi")).collect()[0]
        if row["lo"] is None:
            # empty foreground: zero buckets (ES returns an empty axis)
            empty = filtered.groupBy(millis.alias("key")).agg(
                F.count("*").alias("doc_count"))
            return "buckets", empty.where(F.lit(False))
        fixed, cal = _auto_dh_interval(int(row["lo"]), int(row["hi"]), ah.buckets)
        # ES auto_date_histogram zero-fills the chart axis (that is its
        # whole purpose) — contiguous buckets across [min, max]
        dh = model.DateHistogram(
            field=ah.field, fixed_interval=fixed, calendar_interval=cal,
            min_doc_count=0,
        )
        return compile_agg(
            ctx, filtered,
            dataclasses.replace(agg, auto_date_histogram=None, date_histogram=dh),
            background=background, index_spec=index_spec,
        )
    if agg.global_:
        import dataclasses

        if background is None:
            raise ValueError("global aggregation needs the index relation")
        # sub-aggs over the UNFILTERED index — one hash-agg pass over
        # the background relation; metric sub-aggs only (bucket aggs
        # under `global` raise the clear error below via _metric_exprs)
        bctx = dataclasses.replace(ctx, df=background, fulltext_predicate=None)
        out = background.agg(
            F.count("*").alias("doc_count"), *_metric_exprs(bctx, agg.aggs)
        )
        return "global", out
    if agg.significant_text is not None:
        st = agg.significant_text
        from gopensearch_spark.dsl.compiler import strip_keyword

        if index_spec is None or not getattr(index_spec, "index_dir", None):
            raise ValueError(
                "significant_text requires a full-text-indexed index"
            )
        if strip_keyword(st.field) != index_spec.text_field:
            raise ValueError(
                f"significant_text field {st.field!r} is not the indexed "
                f"text field {index_spec.text_field!r}"
            )
        from gopensearch_spark.analysis import tokens_udf
        from gopensearch_spark.search.readers import corpus_stats, index_table

        spark = filtered.sparkSession
        stats = corpus_stats(index_spec.index_dir)
        # foreground term doc-counts: re-tokenize ONLY the hit set with
        # the index's own tokenizer (Arrow-batched; array_distinct
        # before explode so the shuffle carries one row per (doc, term),
        # never per occurrence). Background df comes straight from the
        # index's term_stats — no postings scan, no full-corpus
        # re-tokenize. JLH exactly as significant_terms.
        from gopensearch_spark.util import ensure_parallelism

        # spread an under-partitioned hit set before the tokenizer —
        # a single-file table scans as ONE partition and would run the
        # Arrow kernel serially; only the text column rides the spread
        fg_src = ensure_parallelism(
            filtered.select(F.col(index_spec.text_field)),
            factor=1, bytes_per_partition=256 << 10,
        )
        fg = (
            fg_src.select(F.explode(F.array_distinct(
                tokens_udf(F.col(index_spec.text_field))
            )).alias("key"))
            .groupBy("key").agg(F.count("*").alias("doc_count"))
        )
        bg = index_table(spark, index_spec.index_dir, "term_stats").groupBy(
            F.col("term").alias("key")).agg(F.sum("df").alias("bg_count"))
        fg_tot = filtered.agg(F.count("*").alias("fg_total"))
        j = bg.join(fg, "key").crossJoin(F.broadcast(fg_tot))
        fg_pct = F.col("doc_count") / F.col("fg_total")
        bg_pct = F.col("bg_count") / F.lit(float(stats["n_docs"]))
        score = F.when(
            fg_pct > bg_pct, (fg_pct - bg_pct) * (fg_pct / bg_pct)
        ).otherwise(F.lit(0.0))
        out = (
            j.where(F.col("doc_count") >= F.lit(st.min_doc_count))
            .select("key", "doc_count", F.col("bg_count").cast("long").alias("bg_count"),
                    score.alias("score"))
            .where(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(st.size)
        )
        return "sig_buckets", out
    if agg.significant_terms is not None:
        import dataclasses

        s = agg.significant_terms
        if background is None:
            raise ValueError(
                "significant_terms needs the index's background relation"
            )
        # foreground (query-filtered) vs background (whole index) term
        # frequencies: two partial+final hash aggs + a key join; the
        # two set-size totals are single-row aggregates broadcast into
        # the score expression. JLH score (the ES default heuristic):
        # (fg% - bg%) * (fg% / bg%) when over-represented, else 0.
        bctx = dataclasses.replace(ctx, df=background, fulltext_predicate=None)
        fkey, bkey = ctx.resolve(s.field), bctx.resolve(s.field)
        fg = (
            filtered.where(fkey.isNotNull())
            .groupBy(fkey.alias("key")).agg(F.count("*").alias("doc_count"))
        )
        bg = (
            background.where(bkey.isNotNull())
            .groupBy(bkey.alias("key")).agg(F.count("*").alias("bg_count"))
        )
        fg_tot = filtered.agg(F.count("*").alias("fg_total"))
        bg_tot = background.agg(F.count("*").alias("bg_total"))
        j = (
            fg.join(bg, "key")
            .crossJoin(F.broadcast(fg_tot))
            .crossJoin(F.broadcast(bg_tot))
        )
        fg_pct = F.col("doc_count") / F.col("fg_total")
        bg_pct = F.col("bg_count") / F.col("bg_total")
        score = F.when(
            fg_pct > bg_pct, (fg_pct - bg_pct) * (fg_pct / bg_pct)
        ).otherwise(F.lit(0.0))
        out = (
            j.where(F.col("doc_count") >= F.lit(s.min_doc_count))
            .select("key", "doc_count", "bg_count", score.alias("score"))
            .where(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(s.size)
        )
        return "sig_buckets", out
    if agg.composite is not None:
        from gopensearch_spark.dsl.compiler import tuple_after_predicate

        c = agg.composite
        if not c.sources:
            raise ValueError("composite aggregation requires sources")
        # The SCALABLE bucket walk: unlike `terms` (one global top-N
        # truncation), composite streams buckets in KEY order with an
        # `after` cursor, so 10^9 distinct keys page through in
        # size-bounded requests. The cursor filter applies to the
        # grouped relation — with AQE the post-shuffle partitions that
        # sort entirely before the cursor never feed the final top-k,
        # and the per-page cost stays O(matching groups), not O(pages
        # seen so far) like from/size.
        def source_key(s: model.CompositeSource) -> Column:
            if s.kind == "histogram":
                col = ctx.resolve(s.field).cast("double")
                return F.floor(col / F.lit(s.interval)) * F.lit(s.interval)
            if s.kind == "date_histogram":
                dh = model.DateHistogram(
                    field=s.field, fixed_interval=s.fixed_interval,
                    calendar_interval=s.calendar_interval,
                )
                return date_bucket_expr(ctx, dh)  # epoch-millis key
            return ctx.resolve(s.field)

        key_cols = [source_key(s) for s in c.sources]
        # missing_bucket=false (ES default): NULL source values drop
        grouped = filtered
        for kc in key_cols:
            grouped = grouped.where(kc.isNotNull())
        out = grouped.groupBy(
            *[kc.alias(s.name) for kc, s in zip(key_cols, c.sources)]
        ).agg(F.count("*").alias("doc_count"), *_metric_exprs(ctx, agg.aggs))
        if c.after is not None:
            missing = [s.name for s in c.sources if s.name not in c.after]
            if missing:
                raise ValueError(f"composite after cursor missing keys {missing!r}")
            out = out.where(tuple_after_predicate(
                [(F.col(s.name), s.order, c.after[s.name]) for s in c.sources]
            ))
        out = out.orderBy(*[
            F.col(s.name).asc() if s.order != "desc" else F.col(s.name).desc()
            for s in c.sources
        ]).limit(c.size)
        names = [s.name for s in c.sources]
        metrics = [cname for cname in out.columns
                   if cname not in names and cname != "doc_count"]
        out = out.select(
            F.struct(*[F.col(n) for n in names]).alias("key"),
            "doc_count", *metrics,
        )
        return "composite", out
    if agg.date_histogram is not None:
        dh = agg.date_histogram
        key = date_bucket_expr(ctx, dh).alias("key")
        metric_subs, pipe_subs = _split_pipeline(agg.aggs)
        out = filtered.groupBy(key).agg(
            F.count("*").alias("doc_count"), *_metric_exprs(ctx, metric_subs)
        )
        if dh.min_doc_count == 0:
            out = _zero_fill_buckets(out, dh)
        if pipe_subs:
            # pipelines need key order as INPUT; a bucket_sort then owns
            # the OUTPUT order (sorting by key afterwards would undo it)
            out = _apply_pipeline(out.orderBy(F.asc("key")), pipe_subs,
                                  set(metric_subs))
            if any(s.bucket_sort is not None for s in pipe_subs.values()):
                return "buckets", out
        return "buckets", _in_key_order(out)
    if agg.histogram is not None:
        h = agg.histogram
        col = ctx.resolve(h.field).cast("double")
        key = (F.floor(col / F.lit(h.interval)) * F.lit(h.interval)).alias("key")
        metric_subs, pipe_subs = _split_pipeline(agg.aggs)
        out = filtered.groupBy(key).agg(
            F.count("*").alias("doc_count"), *_metric_exprs(ctx, metric_subs)
        )
        if h.min_doc_count == 0:
            # ES default: empty buckets between the observed min and max
            # keys. Axis size = value range / interval — bounded by the
            # domain, never the data volume (same shape as the
            # date_histogram zero-fill).
            iv = h.interval
            bounds = out.agg(F.min("key").alias("lo"), F.max("key").alias("hi")).where(
                F.col("lo").isNotNull()
            )
            # lo/hi are exact bucket keys (floor(x/iv)*iv) up to float
            # error; round() recovers the integer bucket index — a raw
            # long cast truncates toward zero, which can drop or
            # misalign a boundary bucket for negative keys or
            # non-integral intervals (e.g. -1.9999999 -> -1).
            axis = bounds.select(
                F.explode(
                    F.sequence(
                        F.round(F.col("lo") / iv).cast("long"),
                        F.round(F.col("hi") / iv).cast("long"),
                    )
                ).alias("i")
            ).select((F.col("i") * F.lit(iv)).cast("double").alias("key"))
            out = axis.join(out, "key", "left").na.fill({"doc_count": 0})
        if pipe_subs:
            out = _apply_pipeline(out.orderBy(F.asc("key")), pipe_subs,
                                  set(metric_subs))
            if any(s.bucket_sort is not None for s in pipe_subs.values()):
                return "buckets", out
        return "buckets", _in_key_order(out)
    if agg.variable_width_histogram is not None:
        vw = agg.variable_width_histogram
        col = ctx.resolve(vw.field).cast("double")
        n = max(1, int(vw.buckets))
        # Deterministic equi-depth reinterpretation of ES's best-effort
        # clustering (see model.VariableWidthHistogram): exact
        # interpolated quantile boundaries — ONE aggregate whose result
        # is request-sized (n-1 scalars), never a global sort window —
        # then a row-local boundary-count assignment and one groupBy.
        if n == 1:
            # single bucket: no quantile boundaries to probe (an empty
            # agg() would fail PySpark's exprs-not-empty assertion); the
            # groupBy below yields zero rows on an empty candidate set,
            # which is already the ES empty shape
            bounds = []
        else:
            vals = filtered.select(col.alias("__v")).where(F.col("__v").isNotNull())
            row = vals.agg(
                *[F.percentile("__v", i / n).alias(f"b{i}") for i in range(1, n)]
            ).head()
            if row is None or row["b1"] is None:
                # empty candidate set -> zero buckets (ES shape)
                empty = filtered.sparkSession.createDataFrame(
                    [], "min double, key double, max double, doc_count long"
                )
                return "buckets", empty
            bounds = sorted({row[f"b{i}"] for i in range(1, n)})
        bid = F.lit(0)
        for bd in bounds:
            bid = bid + F.when(col > F.lit(float(bd)), 1).otherwise(0)
        out = (
            filtered.where(col.isNotNull())
            .groupBy(bid.alias("__b"))
            .agg(
                F.min(col).alias("min"),
                F.avg(col).alias("key"),
                F.max(col).alias("max"),
                F.count("*").alias("doc_count"),
            )
            .orderBy(F.asc("__b"))
            .select("min", "key", "max", "doc_count")
        )
        return "vw_buckets", out
    if agg.range is not None:
        r = agg.range
        col = ctx.resolve(r.field).cast("double")
        # ES `range`: `from` inclusive, `to` exclusive; buckets may
        # overlap and keep REQUEST order (never sorted); empty ranges
        # still emit doc_count 0. One conditional-count pass over the
        # filtered relation (partial+final hash agg — no per-range
        # rescan), then the single stats row unpivots to bucket rows
        # with posexplode. Range count is query-literal-sized, so the
        # unpivot array is O(#ranges) regardless of data volume.
        cnts, pairs = [], []
        for i, rg in enumerate(r.ranges):
            frm, to = rg.get("from"), rg.get("to")
            cond = F.lit(True) & col.isNotNull()
            if frm is not None:
                cond = cond & (col >= F.lit(float(frm)))
            if to is not None:
                cond = cond & (col < F.lit(float(to)))
            key = rg.get("key") or "{}-{}".format(
                float(frm) if frm is not None else "*",
                float(to) if to is not None else "*",
            )
            cnts.append(
                F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias(f"__r{i}")
            )
            pairs.append(F.struct(
                F.lit(key).alias("key"), F.col(f"__r{i}").alias("doc_count")
            ))
        if not cnts:
            raise ValueError("range aggregation requires at least one range")
        out = (
            filtered.agg(*cnts)
            .select(F.posexplode(F.array(*pairs)).alias("pos", "kv"))
            .orderBy("pos")
            .select("kv.key", "kv.doc_count")
        )
        return "buckets", out
    if agg.ip_range is not None:
        r = agg.ip_range
        # dotted-quad string -> uint32 in ONE row-local projection
        # (whole-stage codegen; no UDF), then the same single
        # conditional-count pass + request-sized unpivot as `range`.
        parts = F.split(ctx.resolve(r.field), r"\.")
        col = (
            parts.getItem(0).cast("long") * F.lit(16777216)
            + parts.getItem(1).cast("long") * F.lit(65536)
            + parts.getItem(2).cast("long") * F.lit(256)
            + parts.getItem(3).cast("long")
        )

        def _ip2int(s: str) -> int:
            a, b, c, d = (int(x) for x in str(s).split("."))
            return (a << 24) | (b << 16) | (c << 8) | d

        cnts, pairs = [], []
        for i, rg in enumerate(r.ranges):
            if "mask" in rg:
                base, bits = str(rg["mask"]).split("/")
                width = 32 - int(bits)
                lo = _ip2int(base) & (~((1 << width) - 1) & 0xFFFFFFFF)
                hi = lo + (1 << width)
                key = rg.get("key") or str(rg["mask"])
            else:
                lo = _ip2int(rg["from"]) if rg.get("from") else None
                hi = _ip2int(rg["to"]) if rg.get("to") else None
                key = rg.get("key") or "{}-{}".format(
                    rg.get("from") or "*", rg.get("to") or "*"
                )
            cond = col.isNotNull()
            if lo is not None:
                cond = cond & (col >= F.lit(lo))
            if hi is not None:
                cond = cond & (col < F.lit(hi))
            cnts.append(
                F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias(f"__ip{i}")
            )
            pairs.append(F.struct(
                F.lit(key).alias("key"), F.col(f"__ip{i}").alias("doc_count")
            ))
        if not cnts:
            raise ValueError("ip_range aggregation requires at least one range")
        out = (
            filtered.agg(*cnts)
            .select(F.posexplode(F.array(*pairs)).alias("pos", "kv"))
            .orderBy("pos")
            .select("kv.key", "kv.doc_count")
        )
        return "buckets", out
    if agg.date_range is not None:
        from gopensearch_spark.dsl.compiler import _range_bound

        r = agg.date_range
        # same ONE conditional-count pass as `range`, with bounds
        # resolved through the date machinery (epoch numbers, RFC3339
        # strings, template epoch_millis/epoch_second formats)
        cnts, pairs = [], []
        for i, rg in enumerate(r.ranges):
            frm, to = rg.get("from"), rg.get("to")
            cond = F.lit(True)
            col_ref = None
            if frm is not None:
                c, v = _range_bound(ctx, r.field, frm)
                cond = cond & (c >= v)
                col_ref = c
            if to is not None:
                c, v = _range_bound(ctx, r.field, to)
                cond = cond & (c < v)
                col_ref = c
            if col_ref is not None:
                cond = cond & col_ref.isNotNull()
            key = rg.get("key") or "{}-{}".format(frm if frm is not None else "*",
                                                  to if to is not None else "*")
            cnts.append(F.coalesce(
                F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"__d{i}"))
            pairs.append(F.struct(
                F.lit(str(key)).alias("key"), F.col(f"__d{i}").alias("doc_count")
            ))
        if not cnts:
            raise ValueError("date_range aggregation requires at least one range")
        out = (
            filtered.agg(*cnts)
            .select(F.posexplode(F.array(*pairs)).alias("pos", "kv"))
            .orderBy("pos")
            .select("kv.key", "kv.doc_count")
        )
        return "buckets", out
    if agg.rare_terms is not None:
        rt = agg.rare_terms
        kc = ctx.resolve(rt.field)
        grouped = filtered
        if rt.missing is not None:
            kc = F.coalesce(kc, F.lit(rt.missing))
        else:
            grouped = grouped.where(kc.isNotNull())
        # the long-tail complement of `terms`: exact doc_count filter
        # (ES approximates with a bloom/CuckooFilter; we are exact —
        # the result set is vocabulary-bounded, never corpus-bounded)
        out = (
            grouped.groupBy(kc.alias("key"))
            .agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") <= F.lit(int(rt.max_doc_count)))
            .orderBy(F.asc("doc_count"), F.asc("key"))
        )
        return "buckets", out
    if agg.filters is not None:
        import dataclasses

        from gopensearch_spark.dsl.compiler import compile_query

        # named filter buckets in ONE conditional-count pass. Sub-queries
        # compile on the relational path (fulltext_predicate detached):
        # term/terms/range/bool/exists/wildcard behave exactly as in the
        # query; `match` takes the reference's term-equality semantics
        # (sql.go:126-141) — full-text scoring relations don't compose
        # into per-bucket counts (match_phrase raises its clear error).
        plain = dataclasses.replace(ctx, fulltext_predicate=None)
        names = list(agg.filters.filters)
        preds = [compile_query(plain, q, False)
                 for q in agg.filters.filters.values()]
        if agg.filters.other_bucket_key:
            # ES other_bucket: docs matching NONE of the named filters —
            # one more conditional count in the SAME pass, appended last
            other = None
            for pr in preds:
                other = pr if other is None else (other | pr)
            preds.append(~F.coalesce(other, F.lit(False)))
            names.append(agg.filters.other_bucket_key)
        cnts = [
            F.coalesce(
                F.sum(F.when(pr, 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias(f"__f{i}")
            for i, pr in enumerate(preds)
        ]
        pairs = [
            F.struct(F.lit(name).alias("key"), F.col(f"__f{i}").alias("doc_count"))
            for i, name in enumerate(names)
        ]
        out = (
            filtered.agg(*cnts)
            .select(F.posexplode(F.array(*pairs)).alias("pos", "kv"))
            .orderBy("pos")
            .select("kv.key", "kv.doc_count")
        )
        return "filters", out
    if agg.adjacency_matrix is not None:
        import dataclasses

        from gopensearch_spark.dsl.compiler import compile_query

        # named filters + every pairwise intersection in the SAME
        # single conditional-count pass as `filters`; ES omits empty
        # buckets and keys intersections "a&b" in name order
        plain = dataclasses.replace(ctx, fulltext_predicate=None)
        names = sorted(agg.adjacency_matrix.filters)
        preds = {n: compile_query(plain, agg.adjacency_matrix.filters[n], False)
                 for n in names}
        keys, conds = [], []
        for i, a in enumerate(names):
            keys.append(a)
            conds.append(preds[a])
            for b in names[i + 1:]:
                keys.append(f"{a}&{b}")
                conds.append(preds[a] & preds[b])
        cnts = [
            F.coalesce(F.sum(F.when(c, 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"__c{i}")
            for i, c in enumerate(conds)
        ]
        pairs = [
            F.struct(F.lit(k).alias("key"), F.col(f"__c{i}").alias("doc_count"))
            for i, k in enumerate(keys)
        ]
        out = (
            filtered.agg(*cnts)
            .select(F.explode(F.array(*pairs)).alias("kv"))
            .select("kv.key", "kv.doc_count")
            .where(F.col("doc_count") > 0)
            .orderBy("key")
        )
        # ES shapes adjacency_matrix buckets as an ARRAY (filters uses
        # a name-keyed object) — the generic buckets shape fits
        return "buckets", out
    if agg.sampler is not None:
        from pyspark.sql.window import Window

        # sampler / diversified_sampler: metric sub-aggs over the top
        # shard_size docs — by score for scored queries, else lowest-id
        # (deterministic); diversified first caps docs per key value.
        # The sample is BOUNDED (shard_size rows) before any sub-agg.
        sp = agg.sampler
        order = []
        if "score" in filtered.columns:
            order.append(F.desc("score"))
        tiebreak = ctx.id_col if ctx.id_col in (filtered.columns or []) else filtered.columns[0]
        order.append(F.asc(F.col(tiebreak)))
        sample = filtered
        if sp.field is not None:
            w = Window.partitionBy(ctx.resolve(sp.field)).orderBy(*order)
            sample = (
                sample.withColumn("__samp_rn", F.row_number().over(w))
                .where(F.col("__samp_rn") <= sp.max_docs_per_value)
                .drop("__samp_rn")
            )
        sample = sample.orderBy(*order).limit(sp.shard_size)
        out = sample.agg(
            F.count("*").alias("doc_count"), *_metric_exprs(ctx, agg.aggs)
        )
        return "global", out
    if agg.stats is not None:
        col = _metric_col(ctx, agg.stats).cast("double")
        out = filtered.agg(
            F.count(col).alias("count"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.avg(col).alias("avg"),
            F.coalesce(F.sum(col), F.lit(0.0)).alias("sum"),
        )
        return "stats", out
    if agg.extended_stats is not None:
        col = _metric_col(ctx, agg.extended_stats).cast("double")
        out = filtered.agg(
            F.count(col).alias("count"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.avg(col).alias("avg"),
            F.coalesce(F.sum(col), F.lit(0.0)).alias("sum"),
            F.coalesce(F.sum(col * col), F.lit(0.0)).alias("sum_of_squares"),
            F.var_pop(col).alias("variance"),       # ES reports population
            F.stddev_pop(col).alias("std_deviation"),
        )
        return "extended_stats", out
    metric = _metric_expr(ctx, agg)
    if metric is not None:
        return "metric", filtered.agg(metric.alias("value"))
    if agg.percentiles is not None:
        p = agg.percentiles
        # exact percentiles with linear interpolation over the RESOLVED
        # column (handles JSON-mapped and odd-named fields), one code
        # path regardless of where the field lives (ES uses TDigest
        # approximations; exactness wins for oracle parity)
        col = ctx.resolve(p.field).cast("double")
        vals = F.percentile(col, [x / 100.0 for x in p.percents])
        out = filtered.agg(vals.alias("values"))
        return "percentiles", out.select(
            F.lit([float(x) for x in p.percents]).alias("percents"), "values"
        )
    if agg.boxplot is not None:
        # ES boxplot: min/max + exact quartiles (ES uses TDigest) in
        # ONE hash-agg pass
        col = _metric_col(ctx, agg.boxplot).cast("double")
        out = filtered.agg(
            F.min(col).alias("min"), F.max(col).alias("max"),
            F.percentile(col, 0.25).alias("q1"),
            F.percentile(col, 0.5).alias("q2"),
            F.percentile(col, 0.75).alias("q3"),
        )
        return "boxplot", out
    if agg.median_absolute_deviation is not None:
        # exact MAD: median first (a one-row collect — bounded), then
        # the median of absolute deviations; two axis-cheap passes
        # (ES approximates both medians with TDigest)
        col = _metric_col(ctx, agg.median_absolute_deviation).cast("double")
        med = filtered.agg(F.percentile(col, 0.5).alias("m")).collect()[0]["m"]
        if med is None:
            return "metric", filtered.agg(
                F.lit(None).cast("double").alias("value"))
        out = filtered.agg(
            F.percentile(F.abs(col - F.lit(float(med))), 0.5).alias("value"))
        return "metric", out
    if agg.top_metrics is not None:
        # ES top_metrics: the metric value(s) carried by the best row
        # under `sort` — max_by/min_by aggregates, ONE pass, no window,
        # no row fetch. Sort-value ties are nondeterministic exactly
        # like ES on equal sort keys.
        tm = agg.top_metrics
        if not tm.metrics or not tm.sort_field:
            raise ValueError("top_metrics requires metrics and sort")
        sc = ctx.resolve(tm.sort_field)
        desc = tm.sort_order != "asc"
        exprs = [(F.max(sc) if desc else F.min(sc)).alias("sort_value")]
        for f in tm.metrics:
            mc = ctx.resolve(f)
            exprs.append(
                (F.max_by(mc, sc) if desc else F.min_by(mc, sc)).alias(f))
        out = filtered.where(sc.isNotNull()).agg(*exprs)
        return "top_metrics", out
    if agg.percentile_ranks is not None:
        pr = agg.percentile_ranks
        if not pr.values:
            raise ValueError("percentile_ranks requires values")
        # exact rank: percentage of observed values at or below each
        # requested value — one conditional-avg per value, ONE hash-agg
        # pass (ES approximates with TDigest; exactness wins for parity)
        col = ctx.resolve(pr.field).cast("double")
        exprs = [
            (F.avg(F.when(col <= F.lit(float(v)), 1.0).otherwise(0.0)) * 100)
            .alias(f"r{i}")
            for i, v in enumerate(pr.values)
        ]
        out = filtered.where(col.isNotNull()).agg(*exprs)
        return "percentiles", out.select(
            F.lit([float(v) for v in pr.values]).alias("percents"),
            F.array(*[F.col(f"r{i}") for i in range(len(pr.values))]).alias("values"),
        )
    if agg.top_hits is not None:
        raise ValueError("top_hits is supported as a sub-aggregation of `terms`")
    raise ValueError("empty aggregation")


def _in_key_order(buckets: DataFrame) -> DataFrame:
    """Histogram buckets in key order. A bucket set is small (bounded by
    the field's range over the interval, never by the data volume), so
    one partition sorts it: a global ``orderBy`` would add a
    range-partitioning sample job and a shuffle to every request."""
    return buckets.coalesce(1).sortWithinPartitions(F.asc("key"))


def _zero_fill_buckets(out: DataFrame, dh: model.DateHistogram) -> DataFrame:
    """ES `min_doc_count: 0`: emit empty buckets across the full range —
    extended_bounds when provided, else the data's own [min, max]. The
    bucket axis is generated with `sequence()` and left-joined; at any
    scale the sequence size is bounded by the time range / interval,
    never by the data volume. Calendar intervals (month/quarter/year
    vary in length) step the axis with a calendar INTERVAL literal over
    timestamps instead of fixed millis — the Grafana-dashboard shape
    (reference pkg/dsl/complex_test.go:13-48 probes date_histogram)."""
    if dh.calendar_interval:
        unit = _CALENDAR_TRUNC.get(dh.calendar_interval)
        if unit is None:
            raise ValueError(f"unsupported calendar_interval {dh.calendar_interval!r}")
        # bounds snap to the bucket key grid via the same date_trunc as
        # the data buckets, so the left join aligns exactly
        def trunc_ms(c):
            return F.unix_millis(F.date_trunc(unit, F.timestamp_millis(c)))

        # ES extended_bounds only EXTENDS the axis — a data bucket
        # outside the bounds must still appear (least/greatest skip the
        # null min/max of an empty relation)
        bounds = out.agg(
            (F.least(trunc_ms(F.lit(dh.extended_bounds_min)), F.min("key"))
             if dh.extended_bounds_min is not None else F.min("key")).alias("lo"),
            (F.greatest(trunc_ms(F.lit(dh.extended_bounds_max)), F.max("key"))
             if dh.extended_bounds_max is not None else F.max("key")).alias("hi"),
        ).where(F.col("lo").isNotNull())
        step = "interval 1 week" if unit == "week" else f"interval 1 {unit}"
        axis = bounds.select(
            F.explode(
                F.expr(
                    "sequence(timestamp_millis(lo), timestamp_millis(hi), " + step + ")"
                )
            ).alias("ts")
        ).select(F.unix_millis("ts").alias("key"))
        return axis.join(out, "key", "left").na.fill({"doc_count": 0})
    iv = fixed_interval_ms(dh.fixed_interval or "1s")
    lo = (dh.extended_bounds_min // iv * iv) if dh.extended_bounds_min is not None else None
    hi = (dh.extended_bounds_max // iv * iv) if dh.extended_bounds_max is not None else None
    bounds = out.agg(
        (F.least(F.lit(lo), F.min("key"))
         if lo is not None else F.min("key")).alias("lo"),
        (F.greatest(F.lit(hi), F.max("key"))
         if hi is not None else F.max("key")).alias("hi"),
    ).where(F.col("lo").isNotNull())
    axis = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(iv).cast("long"))).alias("key")
    )
    return axis.join(out, "key", "left").na.fill({"doc_count": 0})


class _NestedElemContext(CompileContext):
    """Sub-agg compile context inside a `nested` aggregation: fields
    address one exploded array element (`__elem`), by full path
    (`tags.key`, the ES convention) or relative (`key`)."""

    def __init__(self, base: CompileContext, df: DataFrame, path: str,
                 elem_type) -> None:
        super().__init__(
            df=df, json_col=None, date_fields=base.date_fields,
            quirk_should_is_and=base.quirk_should_is_and,
            quirk_first_range_only=base.quirk_first_range_only,
            id_col=None, fulltext_predicate=None,
        )
        self._path = path
        self._elem_type = elem_type

    def _rel(self, field: str) -> str:
        from gopensearch_spark.dsl.compiler import strip_keyword

        f = strip_keyword(field)
        return f[len(self._path) + 1:] if f.startswith(self._path + ".") else f

    def resolve(self, field: str) -> Column:
        col = F.col("__elem")
        f = self._rel(field)
        if f == self._path or f == "":
            return col
        for seg in f.split("."):
            col = col[seg]
        return col

    def field_type(self, field: str):
        dtype = self._elem_type
        for seg in self._rel(field).split("."):
            if isinstance(dtype, T.StructType) and seg in dtype.fieldNames():
                dtype = dtype[seg].dataType
            else:
                return None  # map elements (JSON docs): string values
        return dtype


def _nested_elements(
    ctx: CompileContext, filtered: DataFrame, path: str
) -> tuple[DataFrame, "_NestedElemContext"]:
    """One row per array element at `path` (explode is a row-local
    lateral view — no shuffle; the sub-agg's own hash aggregation is the
    only exchange, exactly as for a document-level agg)."""
    from gopensearch_spark.dsl.compiler import strip_keyword

    path = strip_keyword(path)
    r = ctx.path_resolve(path)
    if r[0] == "array" and r[2] == "":
        arr = r[1]
        # walk the schema for the element type
        dtype = None
        cur = ctx.df.schema
        for seg in path.split("."):
            if isinstance(cur, T.StructType) and seg in cur.fieldNames():
                cur = cur[seg].dataType
            else:
                cur = None
                break
        if isinstance(cur, T.ArrayType):
            dtype = cur.elementType
    elif ctx.json_col and path.split(".")[0] not in ctx.df.columns:
        arr = F.from_json(
            F.get_json_object(F.col(ctx.json_col), f"$.{path}"),
            T.ArrayType(T.MapType(T.StringType(), T.StringType())),
        )
        dtype = T.MapType(T.StringType(), T.StringType())
    else:
        raise ValueError(f"nested agg path {path!r} does not resolve to an object array")
    elems = filtered.select(F.explode(arr).alias("__elem"))
    return elems, _NestedElemContext(ctx, elems, path, dtype)


def compile_aggs(
    ctx: CompileContext, filtered: DataFrame, aggs: dict[str, model.Aggregate],
    background: DataFrame | None = None,
    index_spec=None,
) -> dict[str, tuple[str, DataFrame]]:
    out: dict[str, tuple[str, DataFrame]] = {}
    siblings = {k: a for k, a in aggs.items() if a.pipeline_sibling is not None}
    for label, a in aggs.items():
        if label in siblings:
            continue  # reduced AFTER its parent bucket agg compiles
        if a.nested is not None:
            # flattened contract: the parent label carries the element
            # count; each sub-agg rides as "<label>><sublabel>" and the
            # response shaper reassembles the ES nesting
            elems, ectx = _nested_elements(ctx, filtered, a.nested.path)
            out[label] = ("nested_count", elems.agg(F.count("*").alias("doc_count")))
            for sublabel, kd in compile_aggs(
                ectx, elems, a.aggs, background=background, index_spec=index_spec
            ).items():
                out[f"{label}>{sublabel}"] = kd
            continue
        out[label] = compile_agg(ctx, filtered, a, background=background,
                                 index_spec=index_spec)
    for label, a in siblings.items():
        out[label] = _compile_sibling_pipeline(label, a.pipeline_sibling, out)
    return out


def _compile_sibling_pipeline(
    label: str, sp: model.SiblingPipeline, compiled: dict[str, tuple[str, DataFrame]]
) -> tuple[str, DataFrame]:
    """ES sibling pipeline (`avg_bucket`/`sum_bucket`/`min_bucket`/
    `max_bucket`/`stats_bucket`): reduce one metric column (or
    `_count`) across ALL buckets of a sibling bucket agg. The input is
    the already-compiled bucket RELATION — axis-sized, so this is one
    tiny agg over a few thousand rows regardless of corpus size.

    gap_policy=skip is Spark's native null handling: null metric values
    (zero-filled empty buckets never have metrics) fall out of
    avg/min/max/count and sum alike."""
    if ">" not in sp.buckets_path:
        raise ValueError(
            f"{sp.op}_bucket buckets_path {sp.buckets_path!r} must be "
            "'<bucket_label>><metric_label>' (or >_count)"
        )
    parent, metric = sp.buckets_path.split(">", 1)
    if parent not in compiled:
        raise ValueError(
            f"{sp.op}_bucket references unknown sibling {parent!r} "
            f"(have {sorted(k for k in compiled if '>' not in k)!r})"
        )
    kind, pdf = compiled[parent]
    if kind not in ("buckets", "tophits", "sig_buckets"):
        raise ValueError(
            f"{sp.op}_bucket parent {parent!r} is not a bucket aggregation"
        )
    col = (F.col("doc_count") if metric == "_count" else F.col(metric)).cast("double")
    if metric != "_count" and metric not in pdf.columns:
        raise ValueError(
            f"{sp.op}_bucket metric {metric!r} not found in {parent!r} "
            f"buckets ({pdf.columns!r})"
        )
    if sp.op == "stats":
        return "stats", pdf.agg(
            F.count(col).alias("count"), F.min(col).alias("min"),
            F.max(col).alias("max"), F.avg(col).alias("avg"),
            # ES stats sum is 0.0 when every bucket is a gap
            F.coalesce(F.sum(col), F.lit(0.0)).alias("sum"),
        )
    agg = {"avg": F.avg, "min": F.min, "max": F.max,
           "sum": lambda c: F.coalesce(F.sum(c), F.lit(0.0))}[sp.op]
    return "metric", pdf.agg(agg(col).alias("value"))
