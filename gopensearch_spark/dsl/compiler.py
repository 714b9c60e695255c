"""DSL -> DataFrame compiler.

The reference transpiles its DSL tree to SQLite SQL strings
(reference pkg/server/sql.go:35-60 GenPlan and the handle* family).
We compile the same tree to declarative DataFrame expressions and let
Catalyst plan them — predicate pushdown, column pruning and partition
pruning come for free; the per-aggregation re-scan of the reference
(one SQL statement per agg label, sql.go:39-58) becomes independent
aggregations over one cached filtered DataFrame.

Semantics choices (ES-correct by default, reference quirks available
and test-pinned):

- `term`/`match` literals: int-vs-string inference like the reference's
  strconv.ParseInt branch (sql.go:131-137, 146-151).
- `bool.should` compiles to a real OR; the reference ANDs everything
  (sql.go:98-109) — ``quirk_should_is_and=True`` reproduces that.
- `range` applies every field; the reference `break`s after the first
  (sql.go:193) — ``quirk_first_range_only=True`` reproduces that.
- `.keyword` suffix stripped (sql.go:158-162).
- `query_string` is a SQLite GLOB over the raw document in the
  reference (sql.go:198-205); we translate glob -> anchored rlike over
  the designated default field, and treat ``analyze_wildcard`` with a
  bare ``*`` as match-all (the Grafana probe, pkg/dsl/complex_test.go:24).
- fields resolve to typed columns when present, else to
  ``get_json_object(json_col, '$.field')`` — the dynamic-JSON path the
  reference uses for everything (sql.go:134 etc.).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gopensearch_spark.dsl import model


def strip_keyword(field: str) -> str:
    """ES `.keyword` multi-field suffix is ignored (reference sql.go:158-162)."""
    return field.split(".keyword")[0]


def glob_to_regex(glob: str) -> str:
    """SQLite GLOB pattern -> anchored Java regex (for rlike)."""
    out = []
    i = 0
    while i < len(glob):
        c = glob[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = glob.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
            else:
                out.append(glob[i : j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def _literal(value: str):
    """Int-vs-string inference (reference sql.go:131-137)."""
    try:
        return int(value)
    except (TypeError, ValueError):
        return value


@dataclass
class CompileContext:
    df: DataFrame
    json_col: str | None = None  # fallback column holding a JSON doc
    date_fields: dict[str, str] = dc_field(default_factory=dict)  # field -> format (template analogue)
    quirk_should_is_and: bool = False
    quirk_first_range_only: bool = False
    # the index's document-id column (`_id` analogue), for `ids` queries
    id_col: str | None = None
    # callback(field, clause, kind, scoring) -> Column predicate or None,
    # installed by the Engine (`Engine._context`) to register full-text
    # leaves on indexed fields ("match", "phrase", "fuzzy", ...) and
    # score clauses ("const", "fnscore", "boosting", "dismax").
    # ``scoring`` is False inside `bool.filter`/`bool.must_not` (ES filter
    # context: the clause restricts the hit set but contributes NO score).
    fulltext_predicate: object = None
    # True while compiling under a `bool.must_not`: a full-text leaf
    # registered there never matches a hit (highlight skips it)
    negated: bool = False

    def resolve(self, field: str) -> Column:
        field = strip_keyword(field)
        if field in self.df.columns:
            return F.col(field)
        if "." in field and field.split(".")[0] in self.df.columns:
            # dotted path whose head is a typed column: struct field
            # access (`process.serviceName`) — native Spark semantics
            return F.col(field)
        if self.json_col:
            # full dotted path over the JSON doc ($.process.serviceName)
            return F.get_json_object(F.col(self.json_col), f"$.{field}")
        return F.col(field)

    def field_type(self, field: str):
        field = strip_keyword(field)
        for f in self.df.schema.fields:
            if f.name == field:
                return f.dataType
        return None

    def path_resolve(self, field: str):
        """Dotted-path resolution against the TYPED schema.

        Returns ("col", Column) for a scalar/struct path, or
        ("array", array_col, rest) when the path crosses an
        array<struct> — `rest` is the remaining path within each
        element ("" when the path IS the array). Falls back to
        ("col", resolve(field)) when the head segment isn't a typed
        column (JSON docs resolve scalars through get_json_object)."""
        field = strip_keyword(field)
        segs = field.split(".")
        names = {f.name: f.dataType for f in self.df.schema.fields}
        if segs[0] not in names:
            return ("col", self.resolve(field))
        col, dtype = F.col(segs[0]), names[segs[0]]
        for i, seg in enumerate(segs[1:], start=1):
            if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
                return ("array", col, ".".join(segs[i:]))
            if isinstance(dtype, T.StructType) and seg in dtype.fieldNames():
                col, dtype = col[seg], dtype[seg].dataType
            else:
                return ("col", self.resolve(field))
        if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
            return ("array", col, "")
        return ("col", col)

    def pred(self, field: str, fn) -> Column:
        """Apply fn(value_column) -> boolean Column at a dotted path,
        with ES object-array FLATTENING: a path crossing an
        array<struct> (`tags.key`) matches when ANY element matches.
        One array level (ES itself flattens arbitrarily, but a second
        level needs an explicit `nested` query here)."""
        r = self.path_resolve(field)
        if r[0] == "array":
            _, arr, rest = r
            if not rest:
                raise ValueError(
                    f"field {field!r} is an object array; query its members "
                    "(e.g. `{field}.key`) or use a `nested` query"
                )
            return F.coalesce(
                F.exists(arr, lambda e: fn(_elem_get(e, rest))), F.lit(False)
            )
        return fn(r[1])


def _range_bound(ctx: CompileContext, field: str, value) -> tuple[Column, Column]:
    """Resolve (column, literal) for a range bound, honoring date formats.

    A template-mapped date field of any format (epoch_millis,
    epoch_second as in reference pkg/date/dates.go, or a date-string
    format such as strict_date_optional_time) compares as a timestamp;
    a native TimestampType column accepts epoch-millis numbers the same
    way.
    """
    col = ctx.resolve(field)
    fmt = ctx.date_fields.get(strip_keyword(field))
    ftype = ctx.field_type(field)
    if isinstance(ftype, (T.TimestampType, T.TimestampNTZType)):
        # cast the LITERAL to the column's type (session TZ is pinned UTC)
        # so the column itself stays eligible for parquet min/max pushdown
        if isinstance(value, (int, float)) or (isinstance(value, str) and value.lstrip("-").isdigit()):
            v = int(value)
            lit = F.timestamp_seconds(F.lit(v)) if fmt == "epoch_second" else F.timestamp_millis(F.lit(v))
        else:
            lit = F.to_timestamp(F.lit(value))
        return col, lit.cast(ftype)
    if fmt is not None:
        # the stored value may be a raw epoch NUMBER (parquet/JSON
        # ingest) or a date string (the reference's write-time RFC3339
        # form via templateMapDoc, or the format's own text, any UTC
        # offset); both compare as timestamps, mirroring the reference's
        # DATETIME(JSON_EXTRACT(...), 'auto') coercion (sql.go:164-195)
        def to_ts(c: Column) -> Column:
            c = c.cast("long")
            return F.timestamp_seconds(c) if fmt == "epoch_second" else F.timestamp_millis(c)

        s = col.cast("string")
        col_ts = F.when(s.rlike("^-?[0-9]+$"), to_ts(s)).otherwise(F.to_timestamp(s))
        if isinstance(value, (int, float)) or (
            isinstance(value, str) and value.lstrip("-").isdigit()
        ):
            return col_ts, to_ts(F.lit(int(value)))
        return col_ts, F.to_timestamp(F.lit(str(value)))
    return col, F.lit(_literal(value) if isinstance(value, str) else value)


def _numeric_or_epoch_millis(ctx: CompileContext, field: str) -> Column:
    """Resolve a field for numeric score arithmetic (distance_feature):
    date columns become epoch MILLIS doubles — the engine stores
    template date fields as RFC3339 strings, which a bare double cast
    nulls out (silently matching nothing, the primary distance_feature
    use case is dates); native timestamps scale their epoch seconds."""
    col = ctx.resolve(field)
    fmt = ctx.date_fields.get(strip_keyword(field))
    ftype = ctx.field_type(field)
    if isinstance(ftype, (T.TimestampType, T.TimestampNTZType)):
        # NTZ cannot cast to double directly; via timestamp (session TZ
        # is pinned UTC, so the reinterpretation is the identity)
        return col.cast("timestamp").cast("double") * F.lit(1000.0)
    if fmt is not None:
        # any template date format: the stored value is a raw epoch
        # number OR a date string (the write-time RFC3339 form, or the
        # format's own text), same coercion rule as _range_bound
        s = col.cast("string")
        num = s.cast("double") * (F.lit(1000.0) if fmt == "epoch_second" else F.lit(1.0))
        return F.when(s.rlike("^-?[0-9]+$"), num).otherwise(
            F.to_timestamp(s).cast("double") * F.lit(1000.0)
        )
    return col.cast("double")


def _elem_get(e: Column, rest: str) -> Column:
    """Walk the remaining dotted path inside an array element (struct
    field or map key access — both via getItem)."""
    for seg in rest.split("."):
        e = e[seg]
    return e


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) or (
        isinstance(v, str) and v.lstrip("-").replace(".", "", 1).isdigit()
    )


def _elem_range_pred(c: Column, r: model.Range) -> Column:
    """Range bounds against an array-element value: numeric bounds
    compare as doubles (element values may be strings in JSON maps),
    string bounds lexicographically."""

    def cc(v):
        return c.cast("double") if _is_num(v) else c

    def lit(v):
        return F.lit(float(v)) if _is_num(v) else F.lit(v)

    p = F.lit(True)
    if r.gte is not None:
        p = p & (cc(r.gte) >= lit(r.gte))
    if r.gt is not None:
        p = p & ((cc(r.gt) >= lit(r.gt)) if r.include_lower else (cc(r.gt) > lit(r.gt)))
    if r.lte is not None:
        p = p & (cc(r.lte) <= lit(r.lte))
    if r.lt is not None:
        p = p & ((cc(r.lt) <= lit(r.lt)) if r.include_upper else (cc(r.lt) < lit(r.lt)))
    return p


def _nested_pred_fn(q: model.Query, path: str):
    """Inner-query compiler for `nested`: returns fn(element) -> bool
    Column. Fields address the element either by full path (`tags.key`,
    the ES convention) or relative (`key`). Supported inner forms:
    bool/term/terms/range/exists/match_all/match(-as-term) — the
    filter-context subset (score_mode fixed at none)."""

    def rel(field: str) -> str:
        field = strip_keyword(field)
        return field[len(path) + 1:] if field.startswith(path + ".") else field

    def fn(e: Column) -> Column:
        preds: list[Column] = []
        if q.match_all:
            preds.append(F.lit(True))
        for field, t in q.term.items():
            preds.append(_elem_get(e, rel(field)) == F.lit(_literal(t.value)))
        for field, m in q.match.items():
            # inside nested, match == term equality (reference treats
            # match as a "glorified terms query", sql.go:126-141)
            preds.append(_elem_get(e, rel(field)) == F.lit(_literal(m.query)))
        for field, ts in q.terms.items():
            preds.append(
                _elem_get(e, rel(field)).isin([_literal(str(v)) for v in ts.values])
            )
        if q.exists is not None:
            preds.append(_elem_get(e, rel(q.exists)).isNotNull())
        for field, r in q.range.items():
            preds.append(_elem_range_pred(_elem_get(e, rel(field)), r))
        if q.bool_ is not None:
            b = q.bool_
            for sub in b.must + b.filter:
                preds.append(_nested_pred_fn(sub, path)(e))
            if b.should:
                preds.append(_or_all([_nested_pred_fn(s, path)(e) for s in b.should]))
            if b.must_not:
                preds.append(
                    ~_or_all([
                        F.coalesce(_nested_pred_fn(s, path)(e), F.lit(False))
                        for s in b.must_not
                    ])
                )
        if not preds:
            raise ValueError(
                "unsupported query form inside `nested` (supported: bool/"
                "term/terms/range/exists/match_all/match)"
            )
        return _and_all(preds)

    return fn


def compile_nested(ctx: CompileContext, n: model.Nested) -> Column:
    """ES `nested` query: inner clauses must co-match within ONE element
    of the object array at `path` — per-element `F.exists`, so the
    predicate stays a row-local JVM expression (no explode, no shuffle,
    no row multiplication at any corpus size)."""
    path = strip_keyword(n.path)
    r = ctx.path_resolve(path)
    if r[0] == "array" and r[2] == "":
        arr = r[1]
    elif ctx.json_col and path.split(".")[0] not in ctx.df.columns:
        # JSON-doc indices (bulk/single-doc ingest): parse the array at
        # $.path once per row into flat string maps — scalars coerce to
        # their string forms ("true", "200"), matching the reference's
        # everything-is-text JSON_EXTRACT comparisons
        arr = F.from_json(
            F.get_json_object(F.col(ctx.json_col), f"$.{path}"),
            T.ArrayType(T.MapType(T.StringType(), T.StringType())),
        )
    else:
        raise ValueError(f"nested path {path!r} does not resolve to an object array")
    return F.coalesce(F.exists(arr, _nested_pred_fn(n.query, path)), F.lit(False))


def compile_range(ctx: CompileContext, ranges: dict[str, model.Range]) -> Column:
    preds = []
    for field, r in ranges.items():
        pr = ctx.path_resolve(field)
        if pr[0] == "array":
            # dotted path crossing an object array: ES flattening — any
            # element's value may satisfy the range
            preds.append(ctx.pred(field, lambda c, r=r: _elem_range_pred(c, r)))
            if ctx.quirk_first_range_only:
                break
            continue
        p = F.lit(True)
        if r.gte is not None:
            c, v = _range_bound(ctx, field, r.gte)
            p = p & (c >= v)
        if r.gt is not None:
            c, v = _range_bound(ctx, field, r.gt)
            p = p & ((c >= v) if r.include_lower else (c > v))
        if r.lte is not None:
            c, v = _range_bound(ctx, field, r.lte)
            p = p & (c <= v)
        if r.lt is not None:
            c, v = _range_bound(ctx, field, r.lt)
            p = p & ((c <= v) if r.include_upper else (c < v))
        preds.append(p)
        if ctx.quirk_first_range_only:
            break  # reference processes only the first range field (sql.go:193)
    return _and_all(preds)


def _and_all(preds: list[Column]) -> Column:
    out = None
    for p in preds:
        out = p if out is None else (out & p)
    return out if out is not None else F.lit(True)


def _or_all(preds: list[Column]) -> Column:
    out = None
    for p in preds:
        out = p if out is None else (out | p)
    return out if out is not None else F.lit(True)


def tuple_after_predicate(items: list[tuple[Column, str, object]]) -> Column:
    """Strictly-after predicate for a lexicographic sort tuple with
    per-key directions: OR over i of (keys<i equal) AND (key_i past its
    cursor value in its direction). Linear in the number of keys — this
    is the cursor filter behind `search_after` and `composite.after`,
    and it PUSHES DOWN (on the first key it is a plain range predicate,
    so parquet min/max skipping prunes pages the cursor has passed)."""
    pred: Column | None = None
    eq_prefix: Column | None = None
    for col, order, val in items:
        if val is None:
            # a null cursor value makes every comparison NULL and silently
            # drops all rows at that prefix — reject loudly (scroll already
            # does) rather than skip results
            raise ValueError(
                "search_after/composite.after cursor contains a null sort "
                "value; null-sorted documents cannot be paginated past — "
                "add a non-null tiebreak key (e.g. _id) to the sort"
            )
        lit = F.lit(val)
        cmp = (col > lit) if str(order).lower() != "desc" else (col < lit)
        clause = cmp if eq_prefix is None else (eq_prefix & cmp)
        pred = clause if pred is None else (pred | clause)
        eq = col == lit
        eq_prefix = eq if eq_prefix is None else (eq_prefix & eq)
    if pred is None:
        raise ValueError("after-cursor requires at least one sort key")
    return pred


def resolve_min_should(spec: int | str, n_clauses: int) -> int:
    """ES minimum_should_match arithmetic: int, "N", "-N" (n - N),
    "P%" (floor of P% of n), "-P%" (n minus floor of P% of n). A result
    <= 0 means the shoulds are purely score-boosting; a result > n can
    never be satisfied (Lucene semantics) — callers need no clamping
    because an n-indicator sum simply never reaches it."""
    s = str(spec).strip()
    if s.endswith("%"):
        pct = int(s[:-1])
        if pct >= 0:
            return (pct * n_clauses) // 100
        return n_clauses - ((-pct) * n_clauses) // 100
    v = int(s)
    return v if v >= 0 else n_clauses + v


def compile_query(ctx: CompileContext, q: model.Query | None, scoring: bool = True) -> Column:
    """Query tree -> boolean Column (the WHERE side; scoring is separate).

    ``scoring`` tracks ES scoring context: clauses under `bool.filter` or
    `bool.must_not` restrict the hit set but are score-exempt — the flag
    rides through to the Engine's full-text callback so a `match` inside
    `filter` doesn't add its BM25 contribution to the hit score.
    """
    if q is None:
        return F.lit(True)  # reference emits WHERE 1=1 (sql.go:65-68)
    preds: list[Column] = []
    if q.match_all:
        preds.append(F.lit(True))
    for field, t in q.term.items():
        preds.append(ctx.pred(field, lambda c, t=t: c == F.lit(_literal(t.value))))
    for field, ts in q.terms.items():
        preds.append(
            ctx.pred(field, lambda c, ts=ts: c.isin([_literal(str(v)) for v in ts.values]))
        )
    if q.exists is not None:
        r = ctx.path_resolve(q.exists)
        if r[0] == "array" and r[2] == "":
            # exists on an object-array path: any element present
            preds.append(F.coalesce(F.size(r[1]) > 0, F.lit(False)))
        else:
            preds.append(ctx.pred(q.exists, lambda c: c.isNotNull()))
    if q.ids is not None:
        if ctx.id_col is None:
            raise ValueError("ids query requires an index with an id column")
        # ES sends _id values as strings; coerce each to the column's
        # natural literal (int-vs-string inference) so the IN list
        # pushes down without casting the scanned column
        preds.append(
            F.col(ctx.id_col).isin([_literal(str(v)) for v in q.ids])
        )
    for field, t in q.wildcard.items():
        preds.append(ctx.resolve(field).rlike(glob_to_regex(t.value)))
    for field, m in q.match.items():
        if ctx.fulltext_predicate is not None:
            if m.fuzziness:
                # ES `match` + `fuzziness`: term-level fuzzy expansion
                fz = model.Fuzzy(value=m.query, fuzziness=m.fuzziness, boost=m.boost)
                ft = ctx.fulltext_predicate(strip_keyword(field), fz, "fuzzy", scoring)
            else:
                ft = ctx.fulltext_predicate(strip_keyword(field), m, "match", scoring)
            if ft is not None:
                preds.append(ft)
                continue
        # reference behavior: match == term equality ("glorified terms
        # query", sql.go:126-141)
        preds.append(ctx.resolve(field) == F.lit(_literal(m.query)))
    for field, m in q.match_phrase.items():
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(strip_keyword(field), m, "phrase", scoring)
            if ft is not None:
                preds.append(ft)
                continue
        raise ValueError(
            f"match_phrase on {field!r} requires a full-text index (positions)"
        )
    for field, m in q.match_phrase_prefix.items():
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(strip_keyword(field), m, "phrase_prefix", scoring)
            if ft is not None:
                preds.append(ft)
                continue
        raise ValueError(
            f"match_phrase_prefix on {field!r} requires a full-text index (positions)"
        )
    for field, fz in q.fuzzy.items():
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(strip_keyword(field), fz, "fuzzy", scoring)
            if ft is not None:
                preds.append(ft)
                continue
        raise ValueError(
            f"fuzzy on {field!r} requires a full-text index (vocabulary)"
        )
    if q.span_near is not None:
        sn = q.span_near
        if ctx.fulltext_predicate is None:
            raise ValueError("span_near requires a full-text index")
        ft = ctx.fulltext_predicate(strip_keyword(sn.field), sn, "span_near", scoring)
        if ft is None:
            raise ValueError(
                f"span_near field {sn.field!r} is not the indexed text field")
        preds.append(ft)
    if q.more_like_this is not None:
        mlt = q.more_like_this
        if not mlt.fields:
            raise ValueError("more_like_this requires `fields`")
        if ctx.fulltext_predicate is None:
            raise ValueError("more_like_this requires a full-text index")
        ft = ctx.fulltext_predicate(strip_keyword(mlt.fields[0]), mlt, "mlt", scoring)
        if ft is None:
            raise ValueError(
                f"more_like_this field {mlt.fields[0]!r} is not the indexed "
                "text field")
        preds.append(ft)
    for field, rx in q.regexp.items():
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(strip_keyword(field), rx, "regexp", scoring)
            if ft is not None:
                preds.append(ft)
                continue
        # ES-correct keyword-level regexp: the pattern matches the
        # ENTIRE value (Lucene anchoring); Java-regex dialect via rlike
        pat = f"^(?:{rx.value})$"
        if rx.case_insensitive:
            pat = "(?i)" + pat
        preds.append(ctx.resolve(field).rlike(pat))
    for field, t in q.prefix.items():
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(
                strip_keyword(field), model.Match(query=t.value), "prefix", scoring
            )
            if ft is not None:
                preds.append(ft)
                continue
        # ES-correct keyword-level prefix on a plain column
        preds.append(ctx.resolve(field).startswith(t.value))
    if q.range:
        preds.append(compile_range(ctx, q.range))
    if q.query_string is not None:
        qs = q.query_string
        if qs.analyze_wildcard and qs.query.strip("*") == "":
            preds.append(F.lit(True))  # bare-'*' Grafana probe -> match-all
        else:
            target = qs.default_field or ctx.json_col or ctx.df.columns[0]
            preds.append(ctx.resolve(target).rlike(glob_to_regex(qs.query)))
    if q.multi_match is not None:
        if ctx.fulltext_predicate is None:
            raise ValueError("multi_match requires a full-text-indexed Engine index")
        ft = ctx.fulltext_predicate(None, q.multi_match, "multi", scoring)
        if ft is None:
            raise ValueError(
                "multi_match fields must all be full-text indexed "
                f"(got {[f for f, _ in q.multi_match.fields]!r})"
            )
        preds.append(ft)
    if q.boosting is not None:
        # ES boosting: membership is the POSITIVE query alone; docs
        # also matching the negative stay in the set but have their
        # positive score multiplied by negative_boost. The negative is
        # filter context (never scores, never restricts).
        if ctx.fulltext_predicate is not None:
            ft = ctx.fulltext_predicate(None, q.boosting, "boosting", scoring)
            if ft is not None:
                preds.append(ft)
        else:
            preds.append(compile_query(ctx, q.boosting.positive, scoring))
    if q.constant_score is not None:
        # ES constant_score: the inner query is FILTER context (score-
        # exempt BM25-wise); every matching doc scores exactly `boost`.
        # Membership is just the compiled inner predicate — the fixed
        # score rides a "const" scoring entry (no posting-list join).
        inner = compile_query(ctx, q.constant_score.filter, False)
        if ctx.fulltext_predicate is not None and scoring:
            ctx.fulltext_predicate(
                None, (inner, q.constant_score.boost), "const", scoring
            )
        preds.append(inner)
    if q.rank_feature is not None:
        # score-only clause: membership = feature present; the score
        # expression (pure Catalyst arithmetic over the column) rides a
        # "const" scoring entry exactly like constant_score, just with
        # a Column instead of a literal.
        rf = q.rank_feature
        col = ctx.resolve(rf.field).cast("double")
        pred = col.isNotNull()
        if scoring and ctx.fulltext_predicate is not None:
            if rf.log_scaling is not None:
                s = F.log(F.lit(rf.log_scaling) + col)
            elif rf.sigmoid_pivot is not None:
                xe = F.pow(col, F.lit(rf.sigmoid_exponent))
                s = xe / (xe + F.lit(rf.sigmoid_pivot ** rf.sigmoid_exponent))
            else:
                if rf.saturation_pivot is None:
                    raise ValueError(
                        "rank_feature saturation requires an explicit pivot "
                        "(this engine does not derive the index-statistics "
                        "default)"
                    )
                s = col / (col + F.lit(rf.saturation_pivot))
            ctx.fulltext_predicate(
                None, (pred, s * F.lit(rf.boost)), "const", scoring
            )
        preds.append(pred)
    if q.distance_feature is not None:
        dfq = q.distance_feature
        col = _numeric_or_epoch_millis(ctx, dfq.field)
        pred = col.isNotNull()
        if scoring and ctx.fulltext_predicate is not None:
            s = F.lit(dfq.boost) * F.lit(dfq.pivot) / (
                F.lit(dfq.pivot) + F.abs(col - F.lit(dfq.origin))
            )
            ctx.fulltext_predicate(None, (pred, s), "const", scoring)
        preds.append(pred)
    if q.function_score is not None:
        fs = q.function_score
        if ctx.fulltext_predicate is not None:
            # the Engine compiles the inner query itself so the
            # function combine can see the inner clauses' scores
            preds.append(ctx.fulltext_predicate(None, fs, "fnscore", scoring))
        else:
            preds.append(compile_query(ctx, fs.query, False))
    if q.dis_max is not None:
        if ctx.fulltext_predicate is not None:
            # the Engine compiles each branch itself so it can group the
            # branch's scoring clauses for the max + tie_breaker fold
            preds.append(ctx.fulltext_predicate(None, q.dis_max, "dismax", scoring))
        else:
            # plain relational context (e.g. inside a filters agg):
            # membership only, no scores to maximize over
            preds.append(_or_all(
                [compile_query(ctx, b, False) for b in q.dis_max.queries]
            ))
    if q.nested is not None:
        preds.append(compile_nested(ctx, q.nested))
    if q.bool_ is not None:
        b = q.bool_
        for sub in b.must:
            preds.append(compile_query(ctx, sub, scoring))
        for sub in b.filter:  # scoring-exempt, same predicate (dsl.go:52-54)
            preds.append(compile_query(ctx, sub, False))
        if b.should:
            should = [compile_query(ctx, s, scoring) for s in b.should]
            if b.minimum_should_match is not None and not ctx.quirk_should_is_and:
                req = resolve_min_should(b.minimum_should_match, len(should))
                if req <= 0:
                    # purely score-boosting shoulds (the ES default when
                    # must/filter are present): no hit-set restriction
                    preds.append(F.lit(True))
                elif req == 1:
                    preds.append(_or_all(should))
                else:
                    # at-least-req-of-n: indicator sum, one pass, no
                    # 2^n predicate expansion (n can't exceed the
                    # request's clause count; still, keep it linear)
                    ind = None
                    for p in should:
                        i = F.when(p, F.lit(1)).otherwise(F.lit(0))
                        ind = i if ind is None else ind + i
                    preds.append(ind >= F.lit(req))
            else:
                preds.append(_and_all(should) if ctx.quirk_should_is_and else _or_all(should))
        if b.must_not:
            # must_not is filter context too (excluded docs never score)
            outer, ctx.negated = ctx.negated, True
            preds.append(~_or_all([compile_query(ctx, s, False) for s in b.must_not]))
            ctx.negated = outer
    return _and_all(preds)


# --- painless-arithmetic subset evaluator (shared by bucket_script /
# bucket_selector in aggs.py and script_fields / runtime_mappings in
# the Engine) ---

_SCRIPT_SAFE = re.compile(r"^[\w\s.+\-*/%()<>=!&|,]*$")
_DOC_REF = re.compile(r"doc\[\s*'([\w.]+)'\s*\]\s*\.\s*value")


def eval_param_script(script: str, cols: dict[str, Column]) -> Column:
    """Evaluate the painless-arithmetic subset over named Columns:
    `params.<name>` references plus arithmetic (+ - * / %), comparisons
    and parentheses. The expression is rejected unless it consists
    solely of those tokens; evaluation maps `params.<name>` onto its
    Column and lets Column operator overloading build the Catalyst
    expression (whole-stage codegen JVM-side — never a Python UDF).
    Null inputs propagate to a null result (ES gap_policy=skip)."""
    if not _SCRIPT_SAFE.match(script) or "__" in script:
        raise ValueError(f"unsupported script: {script!r}")

    class _Params:
        def __init__(self, c): self._c = c

        def __getattr__(self, name):
            if name.startswith("_"):
                raise AttributeError(name)
            try:
                return self._c[name]
            except KeyError:
                raise ValueError(
                    f"script references params.{name} but the available "
                    f"parameters are {sorted(self._c)!r}"
                ) from None

    try:
        out = eval(script, {"__builtins__": {}}, {"params": _Params(cols)})  # noqa: S307
    except SyntaxError as e:
        raise ValueError(f"unparseable script: {script!r}") from e
    if not isinstance(out, Column):
        out = F.lit(out)
    return out


def eval_doc_script(script: str, resolve) -> Column:
    """ES painless doc-value script (`doc['field'].value` arithmetic)
    compiled to a Catalyst Column: each doc[...] reference is resolved
    through ``resolve`` (the CompileContext resolver, so JSON-mapped
    and dotted-path fields work) and cast to double, then the remaining
    arithmetic evaluates via eval_param_script. Used by script_fields,
    runtime_mappings, and script sorts."""
    names: dict[str, str] = {}

    def _sub(m: re.Match) -> str:
        f = m.group(1)
        if f not in names:
            names[f] = f"v{len(names)}"
        return f"params.{names[f]}"

    body = _DOC_REF.sub(_sub, script)
    if "doc[" in body:
        raise ValueError(f"unresolvable doc[...] reference in {script!r}")
    cols = {n: resolve(f).cast("double") for f, n in names.items()}
    return eval_param_script(body, cols)
