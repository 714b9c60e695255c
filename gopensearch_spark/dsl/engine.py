"""The search engine facade: indices, templates, _search and _msearch.

Python analogue of the reference's server layer without the HTTP
plumbing (reference pkg/server/server.go:174-215 SearchDocumentHandler,
368-431 MSearchHandler, pkg/server/template.go). An "index" is a
registered DataFrame (+ optionally a built inverted index dir for
full-text `match`); a template maps date fields per index-pattern regex
(`*` -> `.*`, reference template.go:51-53,163-179).

Query lifecycle (vs reference §3.1): parse (model.parse_dsl) ->
compile (compiler/aggs -> DataFrame expressions) -> Catalyst plans ->
collect only the final small results -> ES-shaped dict
(reference types.go:62-78). When a `match` targets the index's
full-text field, scoring routes through the BM25 engine
(gopensearch_spark.search) and filters join against it — filters stay
scoring-exempt exactly like ES filter context (reference dsl.go:52-54).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import time
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gopensearch_spark.dsl import model
from gopensearch_spark.dsl.aggs import compile_aggs
from gopensearch_spark.dsl.compiler import (
    CompileContext,
    _or_all,
    compile_query,
    eval_doc_script,
    strip_keyword,
    tuple_after_predicate,
)


@dataclass
class IndexSpec:
    df: DataFrame
    json_col: str | None = None
    text_field: str | None = None   # full-text column backed by index_dir
    index_dir: str | None = None
    id_col: str = "doc_id"
    doc_backed: bool = False        # created via bulk/single-doc ingest
    # further full-text-indexed columns (field -> index dir), the
    # multi_match surface: each field has its OWN inverted index with
    # its own df/avgdl stats, exactly like per-field Lucene indexes
    extra_text_fields: dict[str, str] = dc_field(default_factory=dict)
    # a delete_by_query rewrote ``df``; the inverted index still holds
    # the deleted docs' postings
    has_deletes: bool = False

    def indexed_fields(self) -> dict[str, str]:
        out = dict(self.extra_text_fields)
        if self.text_field and self.index_dir:
            out[self.text_field] = self.index_dir
        return out


@dataclass
class Template:
    name: str
    index_patterns: str
    date_fields: dict[str, str]  # field -> format (only type=date retained,
    #                              reference template.go:92-97)

    def matches(self, index: str) -> bool:
        pattern = self.index_patterns.replace("*", ".*")
        return re.search(pattern, index) is not None


@dataclass
class _Clause:
    """A clause registered by the Engine's full-text callback: a leaf
    (``kind`` and DSL clause ``q``, the request `Engine._leaf_relation`
    serves) or a score-only clause (``kind`` None), with its score
    Column. ``scoring`` is False in filter context and once a compound
    clause has folded the score into its own; ``negated`` is True under
    a must_not, where the leaf never matches a hit."""

    kind: str | None
    q: object
    score: Column
    scoring: bool
    boost: float = 1.0
    negated: bool = False


@dataclass
class _Total:
    """The exact hits.total of one request: its pre-limit relation and,
    when the page reads every row of it, the Observation that counts it
    inside the hits action. Without one (a size-0 request,
    `Engine.count`, knn) the relation is counted by its own action."""

    rel: DataFrame
    obs: Observation | None = None

    def value(self) -> int:
        """Read after the hits action succeeded."""
        if self.obs is not None:
            try:
                return int(self.obs.get["n"])
            except Py4JJavaError:
                # the action ran without the observed node: adaptive
                # execution dropped it with a join whose side came out
                # empty (a query matching nothing)
                pass
        return int(self.rel.count())


def _sum0(scores: list[Column]) -> Column:
    """0.0 + each score, left to right."""
    return functools.reduce(operator.add, scores, F.lit(0.0))


_FVF_MODIFIERS = {
    "": lambda x: x,
    "none": lambda x: x,
    "log1p": lambda x: F.log10(x + F.lit(1.0)),  # ES log* are base 10
    "ln1p": lambda x: F.log(x + F.lit(1.0)),
    "sqrt": lambda x: F.sqrt(x),
    "square": lambda x: x * x,
    # Spark division by zero yields NULL (which would poison the
    # score); Lucene's float math gives Infinity — reproduce that
    "reciprocal": lambda x: F.when(x != 0.0, F.lit(1.0) / x).otherwise(F.lit(float("inf"))),
}


def _function_score(fs: model.FunctionScore, q: Column, ctx: CompileContext) -> Column:
    """function_score: the query score ``q`` combined (boost_mode) with
    weight x modifier(factor x field value)."""
    fv = F.coalesce(ctx.resolve(fs.field).cast("double"), F.lit(float(fs.missing)))
    modifier = _FVF_MODIFIERS.get(fs.modifier)
    if modifier is None:
        raise ValueError(f"unsupported field_value_factor modifier {fs.modifier!r}")
    fn = F.lit(float(fs.weight)) * modifier(F.lit(float(fs.factor)) * fv)
    combined = {"multiply": q * fn, "sum": q + fn, "replace": fn}.get(fs.boost_mode)
    if combined is None:
        raise ValueError(f"unsupported boost_mode {fs.boost_mode!r}")
    return combined


def _dis_max_score(branches: list[tuple[Column, list[Column]]], tie_breaker: float) -> Column:
    """dis_max over (predicate, member scores) branches: the best
    matched branch + tie_breaker x the other matched branches. A branch
    scores the sum of its members, and only where it MATCHED (else
    null, so greatest() skips it)."""
    scores = [
        F.when(pred, _sum0(members)).otherwise(F.lit(None).cast("double"))
        for pred, members in branches
    ]
    best = F.coalesce(F.greatest(*scores) if len(scores) > 1 else scores[0], F.lit(0.0))
    total = functools.reduce(operator.add, [F.coalesce(s, F.lit(0.0)) for s in scores])
    return best + F.lit(tie_breaker) * (total - best)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        compat_quirks: bool = False,
        meta_dir: str | None = None,
        track_total_hits: bool = False,
    ):
        self.spark = spark
        self.indices: dict[str, IndexSpec] = {}
        self.templates: dict[str, Template] = {}
        self.compat_quirks = compat_quirks
        # hits.total semantics default: False = the reference-compat
        # post-limit count (server.go:222-230); True = ES-correct exact
        # pre-limit count of the filtered relation. A per-request
        # `track_total_hits` in the body overrides this default.
        self.track_total_hits = track_total_hits
        self._last_total: _Total | None = None
        # Template persistence (reference pkg/server/template.go:101-161
        # keeps templates in a __templates SQLite table so they survive
        # restarts): with a meta_dir, put/delete_template write
        # templates.json atomically and a fresh Engine reloads it, so
        # write-time date mappings survive a driver restart.
        self.meta_dir = meta_dir
        # index aliases: alias -> ordered target list
        # [{"index": str, "filter": dsl-dict|None, "is_write_index": bool}]
        # (ES `_aliases` API; the reference has no alias layer, so the
        # semantics here follow ES 7.17: filtered aliases inject a
        # filter-context clause, write aliases require a unique target)
        self.aliases: dict[str, list[dict]] = {}
        if meta_dir:
            self._load_templates()
            self._load_aliases()
        self._last_cached: DataFrame | None = None  # agg-bearing search cache
        # document-backed indices (bulk / single-doc ingest): raw JSON
        # rows buffered driver-side, surfaced as a (doc_id, content)
        # DataFrame. This is the ES-protocol parity path for modest
        # payloads (the reference's ingest is likewise a sequential
        # per-document INSERT loop, reference pkg/server/db.go:14-44);
        # web-scale ingest goes through the DataFrame / Structured
        # Streaming builders instead.
        self._doc_rows: dict[str, list[tuple[int, str]]] = {}
        # live scroll cursors: scroll_id -> {index, body, after}
        self._scrolls: dict[str, dict] = {}
        # percolator registry: index -> {query_id: raw query dict}
        self._percolators: dict[str, dict[str, dict]] = {}

    # --- catalog ---------------------------------------------------------
    def create_index(self, name: str, df: DataFrame | None = None, **kw) -> None:
        """Register a DataFrame-backed index; with no DataFrame this is
        `PUT /{index}` (reference server.go:34 CreateIndexHandler → an
        empty FTS5 table, db.go:46-54): an empty document-backed index
        that bulk/single-doc ingest can append to."""
        if df is None:
            if name in self.indices and name not in self._doc_rows:
                # mirror the index_document guard: a bare PUT must not
                # silently replace a DataFrame-backed index with an
                # empty doc-backed one (losing the registered df)
                raise ValueError(
                    f"index {name!r} is DataFrame-backed; cannot recreate "
                    "as an empty document-backed index"
                )
            self._doc_rows.setdefault(name, [])
            self._rebuild_doc_index(name)
            return
        self.indices[name] = IndexSpec(df=df, **kw)

    def list_indices(self) -> list[str]:
        return sorted(self.indices)

    def index_exists(self, name: str) -> bool:
        """`HEAD /{index}` — true for a concrete index OR an alias that
        resolves to one (the ES exists contract)."""
        return name in self.indices or name in self.aliases

    def delete_index(self, name: str) -> dict:
        """`DELETE /{index}`. Concrete names only (ES refuses to delete
        through an alias); removes the registration, any doc-backed
        rows, percolator registry, and every alias target pointing at
        it (aliases left empty disappear — the ES behavior). The
        DataFrame itself is lazy — nothing on disk is touched (built
        inverted-index dirs are owned by their builders)."""
        if name in self.aliases and name not in self.indices:
            raise ValueError(
                f"{name!r} is an alias; delete the concrete index instead"
            )
        if name not in self.indices:
            raise KeyError(f"no such index: {name!r}")
        # drop live scroll cursors bound to this index (resolved through
        # aliases BEFORE the registration disappears): a continuation
        # must fail like ES's search_context_missing, not hit a KeyError
        # or a stale recreated index
        for sid in [
            sid for sid, st in self._scrolls.items()
            if self._scroll_targets(st.get("index", "")) == name
        ]:
            del self._scrolls[sid]
        del self.indices[name]
        self._doc_rows.pop(name, None)
        self._percolators.pop(name, None)
        for alias in list(self.aliases):
            kept = [t for t in self.aliases[alias] if t.get("index") != name]
            if kept:
                self.aliases[alias] = kept
            else:
                del self.aliases[alias]
        if self.meta_dir:
            self._save_aliases()
        return {"acknowledged": True}

    def cat_indices(self) -> str:
        """`GET /_cat/indices` text shape — tab-separated exactly like the
        reference (admin.go:60-67: "%s\\t%s\\t%s\\n")."""
        return "".join(f"green\topen\t{n}\n" for n in self.list_indices())

    def cluster_status(self) -> dict:
        """`GET /` ES-version impersonation (reference admin.go:18-50) —
        the probe Grafana/clients use to negotiate the API dialect; the
        advertised version/taglines mirror the reference verbatim."""
        return {
            "name": "asdfasdf",
            "cluster_name": "qwerty",
            "cluster_uuid": "asdf;ljkasdf",
            "version": {
                "number": "7.17",
                "build_flavor": "default",
                "minimum_index_compatibility_version": "6.8.0",
                "minimum_wire_compatibility_version": "6.8.0",
            },
            "tagline": "You Go, for search",
        }

    # `GET /` alias — some ES clients call this "info"
    cluster_info = cluster_status

    def ping(self) -> bool:
        """`HEAD /` (reference admin.go:13-16 HeadHandler: 200 with an
        empty JSON body). Clients use it as a liveness probe; the
        DataFrame engine is live iff its SparkSession is."""
        return True

    def default_handler(self, path: str) -> dict:
        """Any route without a handler (reference admin.go:74-85
        DefaultHandler): HTTP 501 Not Implemented with an empty body.
        Returned as a status-shaped dict since this engine has no HTTP
        layer."""
        return {"status": 501, "path": path, "body": None}

    def _templates_path(self) -> str:
        return os.path.join(self.meta_dir, "templates.json")

    def _load_templates(self) -> None:
        path = self._templates_path()
        if not os.path.exists(path):
            return
        with open(path) as f:
            raw = json.load(f)
        self.templates = {
            name: Template(name=name, index_patterns=t["index_patterns"],
                           date_fields=t["date_fields"])
            for name, t in raw.items()
        }

    def _save_templates(self) -> None:
        if not self.meta_dir:
            return
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = self._templates_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {n: {"index_patterns": t.index_patterns, "date_fields": t.date_fields}
                 for n, t in self.templates.items()},
                f,
            )
        os.replace(tmp, self._templates_path())

    def put_template(self, name: str, body: dict) -> None:
        """Retain only type=date properties (reference template.go:92-97)."""
        props = body.get("properties") or body.get("mappings", {}).get("properties", {})
        date_fields = {
            f: spec.get("format", "epoch_millis")
            for f, spec in props.items()
            if spec.get("type") == "date"
        }
        self.templates[name] = Template(
            name=name,
            index_patterns=body.get("index_patterns", "*"),
            date_fields=date_fields,
        )
        self._save_templates()

    def get_template(self, name: str) -> dict | None:
        """`GET /_template/{name}` shape: the retained (date) properties
        (reference template.go's TemplateMapping serialization)."""
        t = self.templates.get(name)
        if t is None:
            return None
        return {
            "index_patterns": t.index_patterns,
            "properties": {
                f: {"type": "date", "format": fmt} for f, fmt in t.date_fields.items()
            },
        }

    def delete_template(self, name: str) -> bool:
        """`DELETE /_template/{name}`; True when it existed."""
        existed = self.templates.pop(name, None) is not None
        if existed:
            self._save_templates()
        return existed

    # --- index aliases (ES `_aliases` surface; no reference analogue) -----
    def _aliases_path(self) -> str:
        return os.path.join(self.meta_dir, "aliases.json")

    def _load_aliases(self) -> None:
        path = self._aliases_path()
        if os.path.exists(path):
            with open(path) as f:
                self.aliases = json.load(f)

    def _save_aliases(self) -> None:
        if not self.meta_dir:
            return
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = self._aliases_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.aliases, f)
        os.replace(tmp, self._aliases_path())

    def update_aliases(self, body: str | dict) -> dict:
        """`POST /_aliases` atomic action list: add / remove /
        remove_index. `add` accepts `filter` (a query DSL dict applied
        in filter context to every read through the alias) and
        `is_write_index`. The whole action list validates before any
        mutation lands (ES's atomicity contract)."""
        raw = json.loads(body) if isinstance(body, str) else body
        actions = (raw or {}).get("actions", [])
        staged = {a: [dict(t) for t in ts] for a, ts in self.aliases.items()}
        removed_indices: list[str] = []
        for act in actions:
            if len(act) != 1:
                raise ValueError(f"alias action must have exactly one verb: {act}")
            (verb, spec), = act.items()
            indices = spec.get("indices") or ([spec["index"]] if "index" in spec else [])
            aliases = spec.get("aliases") or ([spec["alias"]] if "alias" in spec else [])
            if verb == "add":
                for ix in indices:
                    if ix not in self.indices:
                        raise KeyError(f"index_not_found_exception: {ix!r}")
                    for al in aliases:
                        if al in self.indices:
                            raise ValueError(
                                f"invalid_alias_name_exception: an index named "
                                f"{al!r} already exists"
                            )
                        ts = staged.setdefault(al, [])
                        ts[:] = [t for t in ts if t["index"] != ix]
                        ts.append({
                            "index": ix,
                            "filter": spec.get("filter"),
                            "is_write_index": bool(spec.get("is_write_index", False)),
                        })
            elif verb == "remove":
                for ix in indices:
                    for al in aliases:
                        if al not in staged or all(
                            t["index"] != ix for t in staged[al]
                        ):
                            must_exist = spec.get("must_exist", True)
                            if must_exist:
                                raise KeyError(
                                    f"aliases_not_found_exception: [{al}/{ix}]"
                                )
                            continue
                        staged[al] = [t for t in staged[al] if t["index"] != ix]
                        if not staged[al]:
                            del staged[al]
            elif verb == "remove_index":
                for ix in indices:
                    if ix not in self.indices:
                        raise KeyError(f"index_not_found_exception: {ix!r}")
                    removed_indices.append(ix)
            else:
                raise ValueError(f"unknown alias action {verb!r}")
        # commit (validation passed for every action)
        for ix in removed_indices:
            self.indices.pop(ix, None)
            self._doc_rows.pop(ix, None)
            for al in list(staged):
                staged[al] = [t for t in staged[al] if t["index"] != ix]
                if not staged[al]:
                    del staged[al]
        self.aliases = staged
        self._save_aliases()
        return {"acknowledged": True}

    def put_alias(self, index: str, alias: str, filter: dict | None = None,
                  is_write_index: bool = False) -> dict:
        """`PUT /{index}/_alias/{alias}` convenience form."""
        spec: dict = {"index": index, "alias": alias}
        if filter is not None:
            spec["filter"] = filter
        if is_write_index:
            spec["is_write_index"] = True
        return self.update_aliases({"actions": [{"add": spec}]})

    def delete_alias(self, index: str, alias: str) -> dict:
        return self.update_aliases(
            {"actions": [{"remove": {"index": index, "alias": alias}}]}
        )

    def get_alias(self, alias: str | None = None) -> dict:
        """`GET /_alias` / `GET /_alias/{name}` ES shape:
        {index: {"aliases": {alias: {filter?, is_write_index?}}}}.
        `name` accepts a trailing-* pattern like ES."""
        def wanted(a: str) -> bool:
            if alias is None or alias == "*":
                return True
            if alias.endswith("*"):
                return a.startswith(alias[:-1])
            return a == alias
        out: dict = {}
        for a, targets in sorted(self.aliases.items()):
            if not wanted(a):
                continue
            for t in targets:
                meta: dict = {}
                if t.get("filter") is not None:
                    meta["filter"] = t["filter"]
                if t.get("is_write_index"):
                    meta["is_write_index"] = True
                out.setdefault(t["index"], {"aliases": {}})["aliases"][a] = meta
        if alias not in (None, "*") and not out:
            raise KeyError(f"alias [{alias}] missing")
        return out

    def cat_aliases(self) -> str:
        """`GET /_cat/aliases` text shape (alias<TAB>index<TAB>filter)."""
        lines = []
        for a, targets in sorted(self.aliases.items()):
            for t in targets:
                lines.append(
                    f"{a}\t{t['index']}\t{'*' if t.get('filter') else '-'}\n"
                )
        return "".join(lines)

    def _scroll_targets(self, name: str) -> str:
        """Concrete index a stored scroll cursor resolves to (first
        comma segment, alias resolution; never raises)."""
        try:
            return self._resolve_request(name, None)[0]
        except Exception:
            return name

    def _resolve_index(self, name: str) -> tuple[str, dict | None]:
        """alias -> (concrete index, optional alias filter DSL).

        A concrete index name always wins (ES forbids the collision at
        alias-creation time; this makes stale persisted aliases
        harmless). A multi-target read alias degrades to its FIRST
        target, consistent with this engine's multi-index comma quirk
        (search_df) — the reference's mux binds one index per request."""
        if name in self.indices or name not in self.aliases:
            return name, None
        t = self.aliases[name][0]
        return t["index"], t.get("filter")

    def _resolve_write_index(self, name: str) -> str:
        """Write-path alias resolution: a single target writes through;
        multiple targets require exactly one `is_write_index` (ES)."""
        if name in self.indices or name not in self.aliases:
            return name
        targets = self.aliases[name]
        if len(targets) == 1:
            return targets[0]["index"]
        writers = [t for t in targets if t.get("is_write_index")]
        if len(writers) == 1:
            return writers[0]["index"]
        raise ValueError(
            f"no write index is defined for alias [{name}]: the alias "
            f"points to {len(targets)} indices without a designated "
            "write index"
        )

    def _spec(self, index: str) -> IndexSpec:
        """Spec lookup with alias resolution (read path, filter ignored
        — callers that honor alias filters resolve explicitly)."""
        return self.indices[self._resolve_index(index)[0]]

    @staticmethod
    def _alias_filtered_body(body: str | dict | None, alias_filter: dict) -> dict:
        """Inject an alias filter into a search body: the original query
        becomes bool.must and the alias filter joins in FILTER context
        (scoring-exempt, exactly ES's filtered-alias contract)."""
        raw = dict(json.loads(body) if isinstance(body, str) else (body or {}))
        bool_body: dict = {"filter": [alias_filter]}
        if raw.get("query") is not None:
            bool_body["must"] = [raw["query"]]
        raw["query"] = {"bool": bool_body}
        return raw

    def get_mapping(self, index: str | None = None) -> dict:
        """`GET /{index}/_mapping` (or all mappings without an index):
        the Grafana probe the reference answers from TemplateMappings
        (reference template.go:181-201 GetMappingDefinitionHandler).
        Divergence, deliberate: the reference returns an ARBITRARY single
        matching template (Go map iteration order); we merge every
        matching template's properties, which is exactly what query
        compilation applies (`_date_fields_for`), so the advertised
        mapping always agrees with search behavior."""
        if index is None:
            return {name: self.get_template(name) for name in self.templates}
        index, _ = self._resolve_index(index)
        props: dict = {}
        patterns: list[str] = []
        for name, t in sorted(self.templates.items()):
            if t.matches(index):
                tpl = self.get_template(name)
                props.update(tpl["properties"])
                patterns.append(tpl["index_patterns"])
        if not patterns:
            return {}
        return {index: {"index_patterns": ",".join(patterns), "properties": props}}

    def _date_fields_for(self, index: str) -> dict[str, str]:
        out: dict[str, str] = {}
        for t in self.templates.values():
            if t.matches(index):
                out.update(t.date_fields)
        return out

    # --- document ingest (ES protocol parity) ------------------------------
    @staticmethod
    def _epoch_to_rfc3339(value, fmt: str):
        """Write-time date mapping: epoch number -> RFC3339 UTC string,
        exactly the reference's storage form (pkg/date/dates.go
        epochMillisInt/epochSecondInt via time.RFC3339, second
        resolution). Non-numeric values pass through unchanged."""
        if isinstance(value, bool):
            return value
        if isinstance(value, (int, float)):
            n = int(value)
        elif isinstance(value, str) and value.lstrip("-").isdigit():
            n = int(value)
        else:
            return value
        sec = n // 1000 if fmt == "epoch_millis" else n
        return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    def _template_map_doc(self, index: str, doc: dict) -> dict:
        """templateMapDoc analogue (reference pkg/server/db.go:228-253):
        template-mapped date fields convert at WRITE time."""
        dates = self._date_fields_for(index)
        if not dates:
            return doc
        out = dict(doc)
        for fld, fmt in dates.items():
            if fld in out and out[fld] is not None:
                out[fld] = self._epoch_to_rfc3339(out[fld], fmt)
        return out

    def _rebuild_doc_index(self, index: str) -> None:
        rows = self._doc_rows[index]
        df = self.spark.createDataFrame(rows, "doc_id long, content string")
        self.indices[index] = IndexSpec(
            df=df, json_col="content", id_col="doc_id", doc_backed=True
        )

    @staticmethod
    def _rfc3339_to_epoch_ms(s: str):
        try:
            return int(
                datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
                .replace(tzinfo=timezone.utc)
                .timestamp()
                * 1000
            )
        except ValueError:
            return s

    def _unmarshal_source(self, index: str, spec: IndexSpec, resp: dict) -> None:
        """unMarshalDoc analogue (reference pkg/server/db.go:200-226):
        doc-backed hits expose the parsed document as _source, with
        template epoch_millis fields mapped BACK from the stored RFC3339
        string to epoch millis (reference pkg/date/reverse.go)."""
        dates = self._date_fields_for(index)
        for h in resp["hits"]["hits"]:
            raw = h["_source"].get(spec.json_col)
            if raw is None:
                continue
            doc = json.loads(raw)
            for fld, fmt in dates.items():
                if fmt == "epoch_millis" and isinstance(doc.get(fld), str):
                    doc[fld] = self._rfc3339_to_epoch_ms(doc[fld])
            h["_source"] = doc

    def index_document(self, index: str, doc: dict | str, _rebuild: bool = True) -> int:
        """Single-document ingest with implicit index creation (reference
        pkg/server/db.go:14-44 IndexDocument + CreateTable). Returns the
        assigned doc_id (the rowid analogue: 1-based insertion order)."""
        index = self._resolve_write_index(index)
        if index in self.indices and index not in self._doc_rows:
            raise ValueError(
                f"index {index!r} is DataFrame-backed; append via DataFrames"
            )
        d = json.loads(doc) if isinstance(doc, str) else doc
        d = self._template_map_doc(index, d)
        rows = self._doc_rows.setdefault(index, [])
        doc_id = len(rows) + 1
        rows.append((doc_id, json.dumps(d)))
        if _rebuild:
            self._rebuild_doc_index(index)
        return doc_id

    def bulk(self, ndjson: str | list[str], index: str | None = None) -> dict:
        """`POST /_bulk` NDJSON action stream (reference
        pkg/server/server.go:253-364 BulkHandler): alternating
        action/document lines; only the `index` action is implemented
        (create/update/delete parsed and skipped like the reference);
        a per-line ``_index`` overrides the request-level index and
        STICKS for subsequent lines (reference quirk: the handler
        reassigns its loop variable); missing indices are created
        implicitly. Returns the BulkResponse shape the python bulk
        helper consumes."""
        lines = ndjson.splitlines() if isinstance(ndjson, str) else list(ndjson)
        docs = [json.loads(l) for l in lines if l.strip()]
        items: list[dict] = []
        touched: set[str] = set()
        i = 0
        while i < len(docs):
            action = docs[i]
            op = next(iter(action), None)
            i += 1
            if op == "index":
                if i >= len(docs):
                    break
                doc = docs[i]
                i += 1
                meta = action["index"] or {}
                if isinstance(meta.get("_index"), str):
                    index = meta["_index"]
                if index is None:
                    raise ValueError(
                        "bulk index action needs an _index (no request-level "
                        "index was given)"
                    )
                doc_id = self.index_document(index, doc, _rebuild=False)
                touched.add(index)
                items.append({"index": {
                    "_index": index,
                    "_id": str(meta.get("_id", doc_id)),
                    "_type": "_doc",
                    "_version": 1,
                    "result": "created",
                    "status": 201,
                }})
            elif op in ("create", "update"):
                i += 1  # consume the unimplemented action's doc line
            # delete (and unknown ops): no doc line, nothing to do
        for idx in touched:  # one DataFrame rebuild per touched index
            self._rebuild_doc_index(idx)
        return {"took": 1, "errors": False, "items": items}

    # --- document management (_delete_by_query etc.) ----------------------
    def _matching_relation(
        self, index: str, query: dict | None
    ) -> tuple[str, "IndexSpec", DataFrame]:
        """Full matching relation for the mutation APIs. The query runs
        through the SAME compile path as `_search` (full-text clauses
        included) but wrapped in bool.filter context — no scoring work,
        and the un-limited relation stays a lazy DataFrame (nothing is
        collected here). Returns (resolved index, spec, hits)."""
        resolved, _af = self._resolve_index(index)
        spec = self.indices[resolved]
        q = {"bool": {"filter": [query]}} if query else {"match_all": {}}
        hits, _aggs, _d = self.search_df(
            index, {"query": q, "size": (1 << 30), "track_total_hits": False})
        return resolved, spec, hits

    def delete_by_query(self, index: str, body: str | dict | None = None) -> dict:
        """`POST /{index}/_delete_by_query`. DataFrame-backed indices
        delete via a left_anti join on the id relation (distributed —
        the deletion set never reaches the driver); doc-backed indices
        filter their driver-resident row list. Like ES before a merge,
        the on-disk inverted index is untouched: deleted docs drop out
        of every hit set through the doc join, while corpus-level df/
        avgdl stats reflect the pre-delete corpus until a rebuild. The
        spec records the delete, so a bare `match` takes the general
        path (its index top-k would spend slots on deleted docs)."""
        import dataclasses

        raw = json.loads(body) if isinstance(body, str) else (body or {})
        resolved, spec, hits = self._matching_relation(index, raw.get("query"))
        ids = hits.select(spec.id_col).distinct()
        if resolved in self._doc_rows:
            idset = {r[0] for r in ids.collect()}
            self._doc_rows[resolved] = [
                r for r in self._doc_rows[resolved] if r[0] not in idset
            ]
            self._rebuild_doc_index(resolved)
            n = len(idset)
        else:
            n = ids.count()
            self.indices[resolved] = dataclasses.replace(
                spec, df=spec.df.join(ids, on=spec.id_col, how="left_anti"),
                has_deletes=True,
            )
        return {"took": 1, "total": n, "deleted": n, "failures": []}

    _UPDATE_SCRIPT = re.compile(
        r"\s*ctx\._source\.([A-Za-z_][\w]*)\s*=\s*(.+?);?\s*$", re.S
    )

    def update_by_query(self, index: str, body: str | dict) -> dict:
        """`POST /{index}/_update_by_query` with a painless-subset
        script `ctx._source.field = <expr>` where <expr> is doc-value
        arithmetic (`doc['f'].value` or `ctx._source.f` references).
        The assignment compiles to ONE Catalyst when/otherwise
        projection gated on the match-id relation — row-local, no
        Python in the data path, numeric targets stored as double.
        DataFrame-backed indices only (doc-backed sources carry opaque
        JSON strings; reindex them into a typed relation first)."""
        raw = json.loads(body) if isinstance(body, str) else body
        script = raw.get("script", "")
        if isinstance(script, dict):
            script = script.get("source", "")
        m = self._UPDATE_SCRIPT.match(str(script))
        if not m:
            raise ValueError(
                "update_by_query script must be of the form "
                "'ctx._source.field = <doc-value expression>'"
            )
        target, rhs = m.group(1), m.group(2)
        rhs = re.sub(r"ctx\._source\.([A-Za-z_][\w]*)", r"doc['\1'].value", rhs)
        resolved, spec, hits = self._matching_relation(index, raw.get("query"))
        if resolved in self._doc_rows:
            raise ValueError(
                "update_by_query requires a DataFrame-backed index"
            )
        import dataclasses

        _, ctx, _ = self._context(resolved)
        expr = eval_doc_script(rhs, ctx.resolve)
        n = hits.count()
        marker = hits.select(spec.id_col).distinct().withColumn(
            "__upd", F.lit(True)
        )
        old = (
            F.col(target).cast("double")
            if target in spec.df.columns
            else F.lit(None).cast("double")
        )
        new_df = (
            spec.df.join(marker, on=spec.id_col, how="left")
            .withColumn(target, F.when(F.col("__upd"), expr).otherwise(old))
            .drop("__upd")
        )
        self.indices[resolved] = dataclasses.replace(spec, df=new_df)
        return {"took": 1, "total": n, "updated": n, "failures": []}

    def reindex(self, body: str | dict) -> dict:
        """`POST /_reindex`: copy (optionally query-filtered) documents
        from source.index into dest.index. DataFrame-backed sources
        register the filtered relation as the destination (zero data
        movement — the copy is a lazy plan; dest carries the source's
        json/date metadata but NOT its inverted index, exactly like an
        ES reindex which leaves dest unanalyzed until reindexing its
        own mappings). Doc-backed sources copy their matching rows,
        preserving ids. The destination must not already exist."""
        import dataclasses

        raw = json.loads(body) if isinstance(body, str) else body
        src = raw["source"]
        dest = raw["dest"]["index"]
        if dest in self.indices or dest in self._doc_rows:
            raise ValueError(f"reindex destination {dest!r} already exists")
        resolved, spec, hits = self._matching_relation(
            str(src["index"]), src.get("query")
        )
        if resolved in self._doc_rows:
            keep = {r[0] for r in hits.select(spec.id_col).collect()}
            self._doc_rows[dest] = [
                r for r in self._doc_rows[resolved] if r[0] in keep
            ]
            self._rebuild_doc_index(dest)
            return {"took": 1, "created": len(keep), "failures": []}
        out = hits.select(*spec.df.columns)  # drop any scoring column
        self.indices[dest] = dataclasses.replace(
            spec, df=out, index_dir=None, text_field=None,
            extra_text_fields={},
        )
        return {"took": 1, "created": out.count(), "failures": []}

    # --- percolation (reverse search) --------------------------------------
    def register_percolator(self, index: str, query_id, query: dict) -> None:
        """Store a percolator query under `index` (ES stores these as
        documents with a `query`-mapped field; this engine keeps the
        raw clause dict in a registry — parse/validation happens here
        so a bad query fails at registration, not at percolate time)."""
        model.parse_dsl({"query": query})  # validate eagerly
        self._percolators.setdefault(index, {})[str(query_id)] = query

    def percolate(
        self, index: str, docs: dict | list[dict] | DataFrame
    ) -> list[dict]:
        """Reverse search (ES `percolate` query): which stored queries
        match each candidate document. ALL stored queries evaluate in
        ONE Catalyst projection — per query a boolean expression over
        the doc relation, folded into an array_compact of matched ids —
        so percolating a 10^9-doc stream against 10^4 stored queries is
        one scan with N row-local expressions, never N passes.

        Full-text `match` clauses evaluate as analyzed-term containment
        (the index analyzer's tokens via the same Arrow tokenizer as
        the index build; AND/OR per the clause operator) — matching
        semantics only, no scores, exactly ES percolation. Returns
        [{"_id"?: ..., "matched_queries": [qid, ...]}] in input order
        for dict input; for a DataFrame input returns the collected
        (id-cols..., matched_queries) rows."""
        stored = self._percolators.get(index, {})
        if not stored:
            return []
        if isinstance(docs, DataFrame):
            df = docs
            keep_cols = df.columns
        else:
            import pandas as pd

            rows = [docs] if isinstance(docs, dict) else list(docs)
            df = self.spark.createDataFrame(pd.DataFrame(rows))
            keep_cols = list(df.columns)
        df = df.withColumn("__row_id", F.monotonically_increasing_id())

        # tokenize every text field any match clause targets, ONCE per doc.
        # The walker recurses through EVERY composite clause shape —
        # bool, constant_score, dis_max, function_score, boosting,
        # nested — so a match buried under any of them tokenizes too
        # (it previously degraded to whole-string equality silently).
        from gopensearch_spark.analysis import normalize_query_terms, tokens_udf

        _COMPOSITE_SUBS = {
            "bool": ("must", "should", "filter", "must_not"),
            "constant_score": ("filter", "query"),
            "dis_max": ("queries",),
            "function_score": ("query",),
            "boosting": ("positive", "negative"),
            "nested": ("query",),
        }
        # leaf clause types whose body is {field: spec} (first key = field)
        _FIELD_LEAVES = (
            "term", "terms", "match", "match_phrase", "match_phrase_prefix",
            "match_bool_prefix", "prefix", "wildcard", "regexp", "fuzzy",
            "range",
        )

        # ES percolation: a leaf on a field the candidate docs don't
        # carry simply doesn't match (heterogeneous docs are the normal
        # percolate input), so it is rewritten to this always-false
        # clause. Compiling it would send an unresolvable column to
        # Catalyst and fail the WHOLE batch with UNRESOLVED_COLUMN. Only
        # the leaf is false: under must/filter it fails the query, under
        # must_not or one should branch the query can still match.
        _NO_MATCH = {"bool": {"must_not": [{"match_all": {}}]}}
        doc_cols = {c.split(".")[0] for c in df.columns}

        def leaf_field(k: str, v) -> str | None:
            if not isinstance(v, dict) or not v:
                return None
            if k in ("exists", "distance_feature", "rank_feature"):
                return strip_keyword(str(v.get("field", ""))) or None
            if k in _FIELD_LEAVES:
                return strip_keyword(next(iter(v)))
            return None

        def prune(q: dict) -> dict:
            """``q`` with every leaf on a missing field replaced by
            ``_NO_MATCH``; collects the text fields of ``match`` leaves
            on the way."""
            out = {}
            for k, v in q.items():
                if k in _COMPOSITE_SUBS and isinstance(v, dict):
                    v = dict(v)
                    for occ in _COMPOSITE_SUBS[k]:
                        sub = v.get(occ)
                        if isinstance(sub, dict):
                            v[occ] = prune(sub)
                        elif isinstance(sub, list):
                            v[occ] = [prune(x) if isinstance(x, dict) else x for x in sub]
                    out[k] = v
                    continue
                f = leaf_field(k, v)
                if f and f.split(".")[0] not in doc_cols:
                    return _NO_MATCH
                if f and k == "match":
                    match_fields.add(f)
                out[k] = v
            return out

        match_fields: set[str] = set()
        pruned = {qid: prune(q) for qid, q in stored.items()}
        tok_cols = {}
        for f in match_fields:
            if f in df.columns and dict(df.dtypes).get(f) == "string":
                tok_cols[f] = f"__tok_{f}"
                df = df.withColumn(f"__tok_{f}", tokens_udf(F.col(f)))

        def fulltext(field: str, m, kind: str = "match", scoring: bool = True):
            if kind != "match" or field not in tok_cols:
                return None  # fall through to the relational compile
            terms = normalize_query_terms(m.query)
            if not terms:
                return F.lit(False)  # ES zero_terms_query "none"
            parts = [F.array_contains(F.col(tok_cols[field]), t) for t in terms]
            out = parts[0]
            for p in parts[1:]:
                out = out & p if m.operator.upper() == "AND" else out | p
            return out

        ctx = CompileContext(df=df, fulltext_predicate=fulltext)
        flags = []
        for qid, q in pruned.items():
            pred = compile_query(ctx, model.parse_dsl({"query": q}).query, scoring=False)
            flags.append(F.when(F.coalesce(pred, F.lit(False)), F.lit(qid)))
        matched = F.array_compact(F.array(*flags)).alias("matched_queries")
        out_rows = (
            df.select("__row_id", *keep_cols, matched)
            .orderBy("__row_id")
            .collect()
        )
        return [
            {**{c: r[c] for c in keep_cols}, "matched_queries": list(r["matched_queries"])}
            for r in out_rows
        ]

    # --- search ----------------------------------------------------------
    # search_df's stages: _resolve_request -> _parse -> plan clauses
    # (_context + compile_query) -> _join_and_score -> _aggs -> _page
    def _context(
        self, index: str, runtime_mappings: dict[str, str] | None = None,
    ) -> tuple[IndexSpec, CompileContext, list[_Clause]]:
        """A compile context whose full-text callback registers each
        full-text leaf and score clause as a `_Clause`. Runtime fields
        (Catalyst projections; later ones may use earlier ones) join the
        relation first, so every compile and compound sub-query sees them."""
        spec = self.indices[index]
        clauses: list[_Clause] = []

        def leaf(kind: str, q, scoring: bool, boost: float = 1.0) -> Column:
            # A REAL boolean predicate over a marker column that
            # _join_and_score left-joins in from the leaf's scoring
            # relation. Unlike an inner/anti join, a marker predicate
            # composes under ANY boolean shape — should-OR, must_not,
            # arbitrary nesting — with ordinary De Morgan semantics.
            i = len(clauses)
            score = F.coalesce(F.col(f"__ft_score_{i}"), F.lit(0.0))
            if boost != 1.0:
                score = score * F.lit(boost)
            clauses.append(_Clause(kind, q, score, scoring, boost, ctx.negated))
            return F.col(f"__ft_id_{i}").isNotNull()

        def group(q: model.Query, scoring: bool) -> tuple[Column, list[Column]]:
            # Compile a compound's sub-query. Its members' scores feed
            # the compound's own score, so they leave the additive fold.
            # Only members SCORING at registration count: filter/
            # must_not-context clauses stay score-exempt, and a nested
            # compound's members count only through the compound itself.
            start = len(clauses)
            pred = compile_query(ctx, q, scoring)
            members = [c.score for c in clauses[start:] if c.scoring]
            for c in clauses[start:]:
                c.scoring = False
            return pred, members

        def score_only(score: Column) -> None:
            clauses.append(_Clause(None, None, score, True))

        def fulltext(field: str, m, kind: str = "match", scoring: bool = True):
            if kind == "const":
                # constant_score, rank_feature, distance_feature: no
                # posting relation — the score (a literal boost or a
                # Catalyst Column) is gated on the compiled predicate
                pred, boost = m
                if scoring:
                    if not isinstance(boost, Column):
                        boost = F.lit(float(boost))
                    score_only(F.when(pred, boost).otherwise(F.lit(0.0)))
                return None  # compiler already has the predicate
            if kind == "fnscore":
                pred, members = group(m.query, scoring)
                if scoring:
                    # a relational inner query scores 1.0 (ES filter-match)
                    q = _sum0(members) if members else F.lit(1.0)
                    score_only(F.when(pred, _function_score(m, q, ctx)).otherwise(F.lit(0.0)))
                return pred
            if kind == "boosting":
                # membership is the positive query alone; the negative is
                # filter context: it demotes, never excludes
                pred, members = group(m.positive, scoring)
                npred = compile_query(ctx, m.negative, False)
                if scoring:
                    q = _sum0(members) if members else F.lit(1.0)
                    q = F.when(pred, q).otherwise(F.lit(0.0))
                    nb = F.lit(float(m.negative_boost))
                    score_only(F.when(npred, q * nb).otherwise(q))
                return pred
            if kind == "dismax":
                branches = [group(bq, scoring) for bq in m.queries]
                if scoring:
                    score_only(_dis_max_score(branches, float(m.tie_breaker)))
                return _or_all([p for p, _ in branches])
            if kind == "multi":
                # multi_match: every requested field must be indexed
                indexed = spec.indexed_fields()
                missing = [f for f, _ in m.fields if strip_keyword(f) not in indexed]
                if missing:
                    raise ValueError(
                        f"multi_match fields {missing!r} have no full-text index "
                        f"(indexed: {sorted(indexed)!r})"
                    )
                return leaf("multi", m, scoring)
            if spec.index_dir and field == spec.text_field:
                return leaf(kind, m, scoring, getattr(m, "boost", 1.0))
            return None

        ctx = CompileContext(
            df=spec.df,
            json_col=spec.json_col,
            date_fields=self._date_fields_for(index),
            quirk_should_is_and=self.compat_quirks,
            quirk_first_range_only=self.compat_quirks,
            id_col=spec.id_col,
            fulltext_predicate=fulltext,
        )
        for name, src in (runtime_mappings or {}).items():
            ctx.df = ctx.df.withColumn(name, eval_doc_script(src, ctx.resolve))
        return spec, ctx, clauses

    def _leaf_relation(self, index: str, kind: str, q) -> DataFrame:
        """A full-text leaf (match, phrase, phrase_prefix, prefix, fuzzy,
        regexp, span_near, mlt, multi) -> its UNORDERED (doc_id, score)
        relation (k=None: the Engine filters and top-k's itself)."""
        from gopensearch_spark.search import (
            bm25_scores,
            near_match,
            phrase_match,
            phrase_prefix_match,
            prefix_match,
        )

        spec = self.indices[index]
        idx = spec.index_dir
        mode = "and" if getattr(q, "operator", "").upper() == "AND" else "or"
        if kind == "multi":
            # per-field BM25 (each field's OWN index stats) scaled by its
            # boost; a doc matches when ANY field's subquery matches (ES's
            # bool-should expansion). most_fields SUMS the boosted field
            # scores; best_fields (ES default) takes the best field plus
            # tie_breaker x the rest — both one groupBy over the union.
            if q.type not in ("best_fields", "most_fields"):
                raise ValueError(
                    f"unsupported multi_match type {q.type!r} "
                    "(best_fields | most_fields)"
                )
            indexed = spec.indexed_fields()
            parts = [
                bm25_scores(self.spark, indexed[strip_keyword(fname)], q.query, mode=mode)
                .select("doc_id", (F.col("score") * F.lit(float(boost))).alias("score"))
                for fname, boost in q.fields
            ]
            u = functools.reduce(DataFrame.unionByName, parts)
            if q.type == "most_fields":
                return u.groupBy("doc_id").agg(F.sum("score").alias("score"))
            tb = float(q.tie_breaker)
            return u.groupBy("doc_id").agg(
                (F.max("score") + F.lit(tb) * (F.sum("score") - F.max("score"))).alias("score")
            )
        if kind == "span_near":
            from gopensearch_spark.search.spans import span_near_match

            return span_near_match(
                self.spark, idx, q.terms, slop=q.slop, in_order=q.in_order, k=None)
        if kind == "mlt":
            from gopensearch_spark.search.mlt import mlt_scores

            like_texts = []
            for lk in q.like:
                if isinstance(lk, dict):
                    # {"_index","_id"} document ref: ONE pushdown id-scan
                    # per ref (bounded by the like list)
                    rspec = self._spec(lk.get("_index", index))
                    rows = (
                        rspec.df
                        .where(F.col(rspec.id_col) == lk["_id"])
                        .select(F.col(rspec.text_field or spec.text_field))
                        .collect()
                    )
                    if not rows:
                        raise ValueError(f"more_like_this doc ref {lk!r} not found")
                    like_texts.append(str(rows[0][0]))
                else:
                    like_texts.append(str(lk))
            return mlt_scores(
                self.spark, idx, like_texts,
                max_query_terms=q.max_query_terms,
                min_term_freq=q.min_term_freq,
                min_doc_freq=q.min_doc_freq,
                max_doc_freq=q.max_doc_freq,
                minimum_should_match=q.minimum_should_match,
            )
        if kind == "phrase":
            from gopensearch_spark.analysis import normalize_query_terms

            terms = normalize_query_terms(q.query)
            if q.slop > 0 and len(terms) >= 2:
                # ES match_phrase slop -> FTS5 NEAR(terms, slop): unordered
                # proximity window with trimmed-tf scoring. Documented
                # divergence from Lucene's ordered edit-move slop — this
                # engine's full-text semantics are FTS5-pinned throughout.
                units = [("term", t) for t in terms]
                return near_match(self.spark, idx, units, n=q.slop, k=None)
            return phrase_match(self.spark, idx, q.query, k=None)
        if kind == "phrase_prefix":
            return phrase_prefix_match(self.spark, idx, q.query, k=None)
        if kind == "prefix":
            return prefix_match(self.spark, idx, q.query, k=None)
        if kind == "fuzzy":
            from gopensearch_spark.search.fuzzy import fuzzy_match

            return fuzzy_match(
                self.spark, idx, q.value,
                fuzziness=q.fuzziness, prefix_length=q.prefix_length,
                max_expansions=q.max_expansions, k=None,
            )
        if kind == "regexp":
            from gopensearch_spark.search.fuzzy import regexp_match

            return regexp_match(
                self.spark, idx, q.value,
                case_insensitive=q.case_insensitive,
                max_expansions=q.max_expansions, k=None,
            )
        return bm25_scores(self.spark, idx, q.query, mode=mode)

    def _resolve_request(self, index: str, body: str | dict) -> tuple[str, str | dict]:
        """Concrete index and body of a request. `GET /a,b,c/_search`
        degrades to the FIRST index, exactly like the reference's route
        capture (server.go:38: the mux binds {index} to the first comma
        segment only); an alias resolves to its target, and a filtered
        alias adds its filter in filter context."""
        index, alias_filter = self._resolve_index(index.split(",", 1)[0])
        if alias_filter is not None:
            body = self._alias_filtered_body(body, alias_filter)
        return index, body

    def _parse(self, index: str, body: str | dict) -> model.Dsl:
        """Parse a body and fill its `terms` lookups."""
        d = model.parse_dsl(body)
        self._resolve_terms_lookups(index, d.query)
        if d.rescore is not None:
            self._resolve_terms_lookups(index, d.rescore.query)
        if d.knn is not None and d.query is not None:
            raise ValueError(
                "knn cannot be combined with a query section; fuse the "
                "two rankings externally (datapipe.rrf_fuse) or move the "
                "restriction into knn.filter"
            )
        return d

    def _pure_match(self, d: model.Dsl, spec: IndexSpec) -> model.Match | None:
        """The request is EXACTLY one `match` on the indexed text field:
        no other clause, agg, sort, cursor, collapse, rescore, script,
        runtime field or min_score — the shape served as a bare top-k
        from the flat postings on the JVM, without the general path's
        relation. A spec with deletes declines: its index still holds
        the deleted docs."""
        q = d.query
        if (
            q is None or len(q.match) != 1 or q != model.Query(match=q.match)
            or not spec.index_dir or spec.has_deletes or d.aggs or d.sort
            or d.search_after is not None or d.collapse or d.rescore
            or d.script_fields or d.runtime_mappings or d.min_score is not None
        ):
            return None
        ((field, m),) = q.match.items()
        # match + fuzziness routes through the expansion path; a boosted
        # match needs the general path's score multiply (ranking would
        # be identical, reported _score not)
        if strip_keyword(field) == spec.text_field and not m.fuzziness and m.boost == 1.0:
            return m
        return None

    def _match_top_k(self, spec: IndexSpec, d: model.Dsl, m: model.Match) -> DataFrame:
        """Serve a pure `match` as a bare top-k straight from the index:
        only top-k ids reach the doc join (the general path materializes
        the whole scoring relation, because filters need it). The top-k
        reads every scored row, so its action can count the total."""
        from gopensearch_spark.search import bm25_scores
        from gopensearch_spark.search.bm25 import top_k

        mode = "and" if m.operator.upper() == "AND" else "or"
        scores = bm25_scores(self.spark, spec.index_dir, m.query, mode=mode)
        self._last_total, scores = self._total(scores, d)
        size = 10 if d.size is None else d.size
        top = top_k(scores, size + (d.from_ or 0))
        return self._from_size(self._hits_join(spec, top), d)

    def _tracks_total(self, d: model.Dsl) -> bool:
        return d.track_total_hits if d.track_total_hits is not None else self.track_total_hits

    def _total(self, rel: DataFrame, d: model.Dsl) -> tuple[_Total, DataFrame]:
        """The request's total over the pre-limit ``rel``, and ``rel`` to
        page from: observed when the total is tracked and the page is
        not empty, so the hits action counts it. Every page over it must
        then read all its rows (a top-k, a sort, a window), never a
        bare limit that stops early."""
        if not self._tracks_total(d) or d.size == 0:
            return _Total(rel), rel
        obs = Observation()
        return _Total(rel, obs), rel.observe(obs, F.count(F.lit(1)).alias("n"))

    @staticmethod
    def _hits_join(spec: IndexSpec, scores: DataFrame) -> DataFrame:
        """Documents joined to a (doc_id, score) relation, best first."""
        scores = scores.withColumnRenamed("doc_id", "__ft_doc_id")
        return (
            spec.df.join(scores, spec.df[spec.id_col] == F.col("__ft_doc_id"))
            .drop("__ft_doc_id")
            .orderBy(F.desc("score"), F.asc(spec.id_col))
        )

    @staticmethod
    def _from_size(hits: DataFrame, d: model.Dsl) -> DataFrame:
        if d.from_:
            hits = hits.offset(d.from_)
        return hits.limit(10 if d.size is None else d.size)

    def _knn_search(
        self, index: str, d: model.Dsl
    ) -> tuple[DataFrame, dict, model.Dsl]:
        """ES 8.x `knn` section: exact cosine top-k over a dense-vector
        column. One corpus scan; the per-pair math is built-in
        zip_with/aggregate (JVM-side, codegen'd); ordering is a
        TakeOrderedAndProject (per-partition partial top-k, driver
        merges k rows per partition — no corpus-wide sort shuffle).
        `knn.filter` restricts candidates BEFORE the vector math (ES
        pre-filter semantics), so Catalyst pushes it into the scan.
        Score = boost * (1 + cosine) / 2, the ES dense_vector cosine
        formulation. Approximate variants (SRP-LSH, IVF) live in
        datapipe.similarity and compose via rrf_fuse."""
        import math

        from gopensearch_spark.datapipe.similarity import _dot, _norm

        kn = d.knn
        spec, ctx, clauses = self._context(index)
        base = ctx.df
        if kn.filter is not None:
            fpred = compile_query(ctx, kn.filter, scoring=False)
            if clauses:
                raise ValueError(
                    "knn.filter must be relational (term/range/bool/...); "
                    "full-text clauses are not supported as knn pre-filters"
                )
            base = base.where(fpred)
        vec = ctx.resolve(kn.field).cast("array<double>")
        qnorm = math.sqrt(sum(x * x for x in kn.query_vector)) or 1.0
        qv = F.array(*[F.lit(float(x)) for x in kn.query_vector])
        cos = _dot(vec, qv) / (_norm(vec) * F.lit(qnorm))
        scored = base.withColumn(
            "score",
            (F.lit(1.0) + cos) / F.lit(2.0) * F.lit(float(kn.boost)),
        )
        top = scored.orderBy(F.desc("score"), F.asc(spec.id_col)).limit(kn.k)
        # ES computes aggs over the k retrieved knn hits (a bounded
        # relation), not the whole candidate set
        top, aggs_out = self._aggs(spec, ctx, top, d, cache=True)
        # hits.total under track_total_hits counts the knn result set
        # (<= k), the ES contract for a knn-only search
        self._last_total = _Total(top)
        return self._from_size(top, d), aggs_out, d

    def search_df(self, index: str, body: str | dict) -> tuple[DataFrame, dict, model.Dsl]:
        """Compile one request to DataFrames without collecting:
        (hits, {label: (kind, df)}, parsed request). A `knn` section and
        a pure `match` take their own top-k and share the later stages
        (`_aggs`, `_from_size`)."""
        from gopensearch_spark.search.phrase import query_scope

        index, body = self._resolve_request(index, body)
        # release the previous search's agg cache FIRST — every exit path
        # (the knn and pure-match paths included) must not leak it
        if self._last_cached is not None:
            self._last_cached.unpersist()
            self._last_cached = None
        self._last_total = None
        d = self._parse(index, body)
        spec = self.indices[index]
        if d.knn is not None:
            return self._knn_search(index, d)
        m = self._pure_match(d, spec)
        if m is not None:
            return self._match_top_k(spec, d, m), {}, d
        _, ctx, clauses = self._context(index, d.runtime_mappings)
        pred = compile_query(ctx, d.query)  # registers the clauses
        scored = bool(clauses)
        # One query_scope spans every relation of the request, rescore's
        # included, so a later phrase/prefix relation doesn't release an
        # earlier one mid-query (they are released on the NEXT query).
        with query_scope():
            filtered = self._join_and_score(index, ctx, clauses, pred, d)
            # Aggs see the filtered relation (the reference re-scans per
            # agg, sql.go:39-58). It is cached ONLY when it embeds
            # full-text scoring (posting scans and aggregates): a
            # pure-relational filter recomputes as a column-pruned
            # parquet scan per consumer, which is CHEAPER than caching
            # every column (measured: a single terms agg over a 6-column
            # table paid more for the cache write of the 5 unused
            # columns than for the agg).
            filtered, aggs_out = self._aggs(spec, ctx, filtered, d, cache=scored)
            self._last_total, filtered = self._total(filtered, d)
            hits = self._page(
                index, ctx, filtered, d, scored, self._last_total.obs is not None)
        return hits, aggs_out, d

    def _join_and_score(
        self, index: str, ctx: CompileContext, clauses: list[_Clause],
        pred: Column, d: model.Dsl,
    ) -> DataFrame:
        """Left-join each leaf's (doc_id, score) relation as marker
        columns and keep the rows the compiled predicate accepts, so a
        leaf can sit under must/should/must_not alike. Catalyst's
        EliminateOuterJoin turns a left join into an inner one whenever
        the predicate is null-rejecting (the plain must-match case).
        The score is the FTS5/ES-style sum over SCORING-context clauses:
        unmatched should branches add 0; filter/must_not clauses are
        score-exempt (ES filter context)."""
        id_col = self.indices[index].id_col
        base = ctx.df
        for i, c in enumerate(clauses):
            if c.kind is not None:
                rel = self._leaf_relation(index, c.kind, c.q).select(
                    F.col("doc_id").alias(f"__ft_id_{i}"),
                    F.col("score").alias(f"__ft_score_{i}"),
                )
                base = base.join(rel, base[id_col] == rel[f"__ft_id_{i}"], "left")
        filtered = base.where(pred)
        if not clauses:
            return filtered
        scores = [c.score for c in clauses if c.scoring]
        # no scoring clause: a filter-only full-text query scores 0
        score = functools.reduce(operator.add, scores) if scores else F.lit(0.0)
        filtered = filtered.withColumn("score", score).drop(
            *[f"__ft_{x}_{i}" for x in ("id", "score") for i in range(len(clauses))]
        )
        if d.min_score is not None:
            # ES min_score: filters the hit set BEFORE aggregations
            filtered = filtered.where(F.col("score") >= F.lit(float(d.min_score)))
        return filtered

    def _aggs(
        self, spec: IndexSpec, ctx: CompileContext, rel: DataFrame,
        d: model.Dsl, cache: bool,
    ) -> tuple[DataFrame, dict]:
        """The request's aggs over ``rel``, cached first with ``cache``
        (released once collected, or by the next search)."""
        if not d.aggs:
            return rel, {}
        if cache:
            rel = rel.cache()
            self._last_cached = rel
            ctx = CompileContext(
                df=rel, json_col=ctx.json_col, date_fields=ctx.date_fields,
                id_col=ctx.id_col,
            )
        return rel, compile_aggs(ctx, rel, d.aggs, background=spec.df, index_spec=spec)

    def _page(
        self, index: str, ctx: CompileContext, hits: DataFrame, d: model.Dsl,
        scored: bool, observed: bool,
    ) -> DataFrame:
        """search_after, collapse, rescore or sort, from/size, then the
        script_fields of the page. An ``observed`` page with no order
        of its own takes id order (ES `_doc` order), so the hits action
        reads every row and counts the total."""
        id_col = self.indices[index].id_col
        if d.search_after is not None:
            # cursor pagination: a strictly-after predicate on the sort
            # tuple — the rows of every previous page are FILTERED OUT
            # before the top-k (from/size re-sorts and discards
            # offset+size rows per page; at page depth 10^6 that is the
            # difference between a pushdown range scan and a full sort)
            if not d.sort:
                raise ValueError("search_after requires an explicit sort")
            if d.from_:
                raise ValueError("search_after cannot be combined with from")
            if len(d.search_after) != len(d.sort):
                raise ValueError(
                    f"search_after has {len(d.search_after)} values for "
                    f"{len(d.sort)} sort keys"
                )
            hits = hits.where(tuple_after_predicate([
                (self._sort_col(ctx, s.field, scored), s.order, v)
                for s, v in zip(d.sort, d.search_after)
            ]))
        if d.collapse is not None:
            # ES field collapsing: one best hit per collapse-key value,
            # best under the request's order (with an id tiebreak so
            # row_number is total). The only shuffle is on the collapse
            # key; per-group state is one row.
            from pyspark.sql.window import Window

            corder = self._sort_cols(ctx, d, scored) or ([F.desc("score")] if scored else [])
            corder.append(F.asc(F.col(id_col)))
            w = Window.partitionBy(ctx.resolve(d.collapse.field)).orderBy(*corder)
            hits = (
                hits.withColumn("__collapse_rn", F.row_number().over(w))
                .where(F.col("__collapse_rn") == 1)
                .drop("__collapse_rn")
            )
        if d.rescore is not None:
            hits = self._rescore(index, hits, d, scored)
        elif d.sort:
            hits = hits.orderBy(*self._sort_cols(ctx, d, scored))
        elif scored:
            hits = hits.orderBy(F.desc("score"), F.asc(id_col))
        elif observed:
            hits = hits.orderBy(F.asc(id_col))
        hits = self._from_size(hits, d)
        # fetch-phase computed columns: Catalyst projections over the
        # ALREADY-limited page (≤ size rows)
        for name, src in d.script_fields.items():
            hits = hits.withColumn(name, eval_doc_script(src, ctx.resolve))
        return hits

    def _rescore(self, index: str, hits: DataFrame, d: model.Dsl, scored: bool) -> DataFrame:
        """ES rescore: the top `window_size` hits re-ranked by
        query_weight x their score combined (score_mode) with
        rescore_query_weight x the rescore query's score."""
        rs = d.rescore
        id_col = self.indices[index].id_col
        if d.sort:
            raise ValueError(
                "rescore cannot be combined with an explicit sort (ES contract)")
        if d.search_after is not None or d.collapse is not None:
            raise ValueError(
                "rescore cannot be combined with search_after or collapse")
        if not scored:
            raise ValueError("rescore requires a scoring primary query")
        size = 10 if d.size is None else d.size
        if size + (d.from_ or 0) > rs.window_size:
            raise ValueError(
                f"rescore window_size {rs.window_size} must cover "
                f"from+size {size + (d.from_ or 0)}")
        # bound FIRST: only the top-window hits are rescored. The
        # secondary scoring relation is semi-joined against the
        # broadcast window ids before the outer join, so its posting
        # lists never flow past the bounded candidate set.
        window = hits.orderBy(F.desc("score"), F.asc(id_col)).limit(rs.window_size)
        sec = self._rescore_relation(index, rs.query).select(
            F.col("doc_id").alias("__rs_id"),
            F.col("score").alias("__rs_score"),
        )
        sec = sec.join(
            F.broadcast(window.select(F.col(id_col).alias("__rs_id"))), "__rs_id")
        j = window.join(
            F.broadcast(sec), window[id_col] == sec["__rs_id"], "left"
        ).drop("__rs_id")
        orig = F.col("score") * F.lit(float(rs.query_weight))
        secs = F.col("__rs_score") * F.lit(float(rs.rescore_query_weight))
        comb = {"total": orig + secs, "multiply": orig * secs, "avg": (orig + secs) / 2,
                "max": F.greatest(orig, secs), "min": F.least(orig, secs)}.get(rs.score_mode)
        if comb is None:
            raise ValueError(f"unsupported rescore score_mode {rs.score_mode!r}")
        # ES: a window doc the rescore query does NOT match keeps
        # query_weight x its original score
        comb = F.when(F.col("__rs_score").isNotNull(), comb).otherwise(orig)
        return (
            j.withColumn("score", comb)
            .drop("__rs_score")
            .orderBy(F.desc("score"), F.asc(id_col))
        )

    def _rescore_relation(self, index: str, q: model.Query) -> DataFrame:
        """(doc_id, score) relation of a rescore query, scored as the
        same clause in a primary query: a single `match` or
        `match_phrase` on the indexed text field, the classic
        cheap-match-then-phrase two-phase ranking."""
        spec = self.indices[index]
        if len(q.match) == 1 and not q.match_phrase:
            what, leaf = "match", model.Query(match=q.match)
        elif len(q.match_phrase) == 1 and not q.match:
            what, leaf = "match_phrase", model.Query(match_phrase=q.match_phrase)
        else:
            raise ValueError(
                "rescore supports a single match or match_phrase on the "
                "indexed text field")
        (f,) = leaf.match or leaf.match_phrase
        if not spec.index_dir or strip_keyword(f) != spec.text_field:
            raise ValueError(
                f"rescore {what} field {f!r} is not the indexed text "
                f"field {spec.text_field!r}")
        _, ctx, clauses = self._context(index)
        compile_query(ctx, leaf)
        (c,) = clauses
        rel = self._leaf_relation(index, c.kind, c.q)
        if c.boost == 1.0:
            return rel
        return rel.withColumn("score", F.col("score") * F.lit(c.boost))

    def _resolve_terms_lookups(self, index: str, q: model.Query | None) -> None:
        """ES `terms` LOOKUP ({"index","id","path"}): fill the clause's
        values from the referenced document before compile — ONE bounded
        pushdown id-scan per lookup clause, never data-sized. Array
        fields contribute their elements; scalars one value."""
        if q is None:
            return
        from gopensearch_spark.dsl.compiler import _literal

        for _field, t in q.terms.items():
            if not t.lookup:
                continue
            lk = t.lookup
            ridx = lk.get("index") or index
            rspec = self._spec(ridx)
            rctx = CompileContext(
                df=rspec.df, json_col=rspec.json_col, id_col=rspec.id_col)
            rows = (
                rspec.df
                .where(F.col(rspec.id_col) == F.lit(_literal(str(lk["id"]))))
                .select(rctx.resolve(str(lk["path"])).alias("v"))
                .collect()
            )
            if not rows:
                raise ValueError(f"terms lookup doc {lk!r} not found")
            v = rows[0]["v"]
            t.values = list(v) if isinstance(v, (list, tuple)) else [v]
            t.lookup = None
        if q.bool_ is not None:
            for sub in (q.bool_.must + q.bool_.should + q.bool_.filter
                        + q.bool_.must_not):
                self._resolve_terms_lookups(index, sub)
        for sub in (
            q.nested.query if q.nested else None,
            q.constant_score.filter if q.constant_score else None,
            q.function_score.query if q.function_score else None,
            q.boosting.positive if q.boosting else None,
            q.boosting.negative if q.boosting else None,
        ):
            if sub is not None:
                self._resolve_terms_lookups(index, sub)
        if q.dis_max is not None:
            for sub in q.dis_max.queries:
                self._resolve_terms_lookups(index, sub)

    @staticmethod
    def _sort_col(ctx: CompileContext, field: str, scored: bool) -> Column:
        """Resolve a sort field; `_score` maps to the scoring column."""
        if field == "_score":
            if not scored:
                raise ValueError("sort by _score requires a scoring query")
            return F.col("score")
        return ctx.resolve(field)

    def _sort_cols(self, ctx: CompileContext, d: model.Dsl, scored: bool) -> list[Column]:
        """The request's sort as ordering Columns."""
        cols = [(self._sort_col(ctx, s.field, scored), s.order.lower()) for s in d.sort]
        return [c.desc() if order == "desc" else c.asc() for c, order in cols]

    def _highlight_leaves(self, index: str, d: model.Dsl) -> list:
        """Highlight leaves (FTS5 highlight() parity) of the match,
        match_phrase and prefix clauses on the index's text field, at
        any depth: the clauses the request's compile registers, except
        those under a must_not, whose terms never match. A fuzzy clause
        highlights its literal terms only."""
        from gopensearch_spark.analysis import tokenize
        from gopensearch_spark.search.highlight import leaves_for_match

        _, ctx, clauses = self._context(index, d.runtime_mappings)
        compile_query(ctx, d.query)
        leaves: list = []
        for c in clauses:
            if c.negated or c.kind not in ("match", "fuzzy", "phrase", "prefix"):
                continue
            if c.kind == "fuzzy":
                leaves.extend(leaves_for_match(c.q.value, "match"))
                continue
            toks = tokenize(c.q.query)
            if c.kind == "phrase" and c.q.slop and len(toks) >= 2:
                # scored as NEAR(terms, slop): wrap its kept instances
                leaves.append(("near", ([("term", t) for t in toks], c.q.slop)))
            else:
                leaves.extend(leaves_for_match(c.q.query, c.kind))
        return leaves

    def search(self, index: str, body: str | dict) -> dict:
        """`POST /{index}/_search` -> ES-shaped response dict."""
        return self._finish_search(*self._compile_request(index, body))

    def _compile_request(self, index: str, body: str | dict) -> tuple:
        """One request compiled into `_finish_search`'s arguments, its
        alias resolved HERE so hits report the concrete `_index`. The
        request OWNS the compile's cache handles: the next search_df must
        not release what it still has to collect (msearch compiles all
        its requests, then collects them concurrently)."""
        t0 = time.time()
        index, body = self._resolve_request(index, body)
        hits, aggs_out, d = self.search_df(index, body)
        req = (index, hits, aggs_out, d, self._last_total, self._last_cached, t0)
        self._last_total = self._last_cached = None
        return req

    def _finish_search(
        self, index: str, hits: DataFrame, aggs_out: dict, d: model.Dsl,
        total: _Total | None, cached: DataFrame | None, t0: float,
    ) -> dict:
        """Collect + shape ONE compiled search — the Spark-action phase.
        Safe to run concurrently across requests: it reads only
        immutable engine state and owns its cache handles. A tracked
        total comes from the hits action's observation when the page
        has one (`_total`), else from a count of the pre-limit relation."""
        from gopensearch_spark.dsl.response import shape_response

        spec = self.indices[index]
        try:
            rows = hits.collect()
            agg_rows = {label: (kind, df.collect()) for label, (kind, df) in aggs_out.items()}
            # read while the agg cache (if any) is still live
            n_total = total.value() if total is not None and self._tracks_total(d) else None
        finally:
            if cached is not None:  # everything is collected now
                cached.unpersist()
        resp = shape_response(
            index=index,
            rows=rows,
            agg_rows=agg_rows,
            id_col=spec.id_col,
            took_ms=int((time.time() - t0) * 1000),
        )
        if n_total is not None:
            resp["hits"]["total"] = {"value": n_total, "relation": "eq"}
        if d.script_fields:
            # ES shape: script-field values live under hit["fields"],
            # not _source (extracted BEFORE doc-backed unmarshal
            # replaces _source with the original document)
            for h in resp["hits"]["hits"]:
                src = h.get("_source", {})
                h["fields"] = {n: [src.pop(n, None)] for n in d.script_fields}
        if spec.doc_backed:
            self._unmarshal_source(index, spec, resp)
        if d.suggest:
            resp["suggest"] = self._run_suggest(index, d.suggest)
        if d.highlight and spec.text_field and spec.text_field in d.highlight.get("fields", {}):
            from gopensearch_spark.search.highlight import highlight_text

            fspec = d.highlight["fields"][spec.text_field] or {}
            pre = (fspec.get("pre_tags") or d.highlight.get("pre_tags") or ["<em>"])[0]
            post = (fspec.get("post_tags") or d.highlight.get("post_tags") or ["</em>"])[0]
            leaves = self._highlight_leaves(index, d)
            if leaves:
                for h in resp["hits"]["hits"]:
                    src = h["_source"].get(spec.text_field)
                    rendered = highlight_text(src, leaves, pre, post)
                    if rendered is not None:  # ES omits highlight for
                        h["highlight"] = {     # hits matched via other clauses
                            spec.text_field: [rendered]
                        }
        if d.fields:
            # ES `fields` option: values surfaced per-hit alongside
            # _source (from the FINAL unmarshaled source; missing
            # fields are omitted, ES contract)
            for h in resp["hits"]["hits"]:
                src = h.get("_source", {})
                got = {f: [src[f]] for f in d.fields if f in src}
                if got:
                    h.setdefault("fields", {}).update(got)
        if d.sort:
            # ES parity: every hit carries its `sort` value tuple (what
            # clients feed back as search_after); built from the FULL
            # source before any _source filtering, so cursors survive
            # filtered responses
            fields = [sr.field for sr in d.sort]
            for h in resp["hits"]["hits"]:
                src = h.get("_source", {})
                h["sort"] = [
                    h.get("_score") if f == "_score" else src.get(f)
                    for f in fields
                ]
        if (d.source is not None and d.source is not True) or d.source_excludes:
            # `_source` filtering LAST: highlight, source unmarshal and
            # the sort tuple above read the full source
            for h in resp["hits"]["hits"]:
                if d.source is False:
                    h.pop("_source", None)
                    continue
                src = h.get("_source", {})
                if isinstance(d.source, list):
                    src = {k: v for k, v in src.items() if k in d.source}
                if d.source_excludes:
                    src = {k: v for k, v in src.items()
                           if k not in d.source_excludes}
                h["_source"] = src
        elif d.script_fields and d.source is None:
            # ES: script_fields suppress _source unless it is requested
            for h in resp["hits"]["hits"]:
                h.pop("_source", None)
        return resp

    def analyze(self, body: str | dict) -> dict:
        """`POST /_analyze`: run the index analyzer (FTS5 unicode61
        parity — the only analyzer this engine has) over a text and
        return the ES tokens shape. Pure driver-side, no Spark job."""
        from gopensearch_spark.analysis import tokenize_with_offsets

        raw = json.loads(body) if isinstance(body, str) else body
        text = raw.get("text", "")
        texts = text if isinstance(text, list) else [text]
        tokens, pos, base = [], 0, 0
        for chunk in texts:
            chunk = str(chunk)
            for tok, start, end in tokenize_with_offsets(chunk):
                tokens.append({
                    "token": tok,
                    # offsets are CUMULATIVE across array elements
                    # (ES semantics: elements join with a 1-char gap)
                    "start_offset": base + start,
                    "end_offset": base + end,
                    "type": "<ALPHANUM>",
                    "position": pos,
                })
                pos += 1
            base += len(chunk) + 1
        return {"tokens": tokens}

    def force_merge(self, index: str, max_num_segments: int | None = None) -> dict:
        """`POST /{index}/_forcemerge[?max_num_segments=N]`: merge every
        indexed field's fragmented posting runs back to one sorted run
        per term — the ES force-merge contract mapped onto
        `compact_streaming_index`, the one compaction. Each field index
        compacts into `<dir>/gen-{N+1}` and COMMITS by atomically writing
        the `_current` manifest — rename-free, so in-flight readers stay on
        the old generation and object stores need no directory rename;
        generations older than the previous one are deleted, and later
        stream batches append to the merged index.
        `max_num_segments` is accepted because ES requests carry it; a
        force-merge here always leaves one run per term, which is what
        any value asks for."""
        from gopensearch_spark.index.builder import compact_streaming_index

        fields = self._spec(index).indexed_fields().values()
        for idx_dir in fields:
            compact_streaming_index(self.spark, idx_dir)
        return {"_shards": {"total": len(fields), "successful": len(fields), "failed": 0}}

    def render_template(self, body: str | dict) -> dict:
        """`POST /_render/template`: expand the mustache subset this
        engine supports — `{{var}}` scalar substitution (strings are
        JSON-escaped in place, numbers/bools verbatim) and
        `{{#toJson}}var{{/toJson}}` whole-value JSON injection — and
        return the rendered search body without executing it."""
        req = json.loads(body) if isinstance(body, str) else body
        src = req.get("source", "")
        params = req.get("params", {}) or {}
        if isinstance(src, dict):
            src = json.dumps(src)

        def to_json(m: re.Match) -> str:
            return json.dumps(params.get(m.group(1)))

        def scalar(m: re.Match) -> str:
            v = params.get(m.group(1), "")
            if isinstance(v, str):
                return json.dumps(v)[1:-1]  # escaped content, no quotes
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        # whole-value tokens (the entire JSON string is one template
        # token — the shape a dict `source` serializes to) substitute
        # WITH their native JSON type: numbers/lists/bools stay typed.
        # ES's string-mustache would stringify these and coerce at
        # parse time; keeping the type is strictly more faithful to the
        # caller's params and round-trips through _render/template.
        rendered = re.sub(
            r'"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}"', to_json, src)
        rendered = re.sub(r'"\{\{(\w+)\}\}"', to_json, rendered)
        # inline tokens inside larger strings: mustache text substitution
        rendered = re.sub(
            r"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}", to_json, rendered)
        rendered = re.sub(r"\{\{(\w+)\}\}", scalar, rendered)
        try:
            return {"template_output": json.loads(rendered)}
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"rendered template is not valid JSON: {exc}: {rendered[:200]}"
            ) from exc

    def search_template(self, index: str, body: str | dict) -> dict:
        """`POST /{index}/_search/template`: render (see
        `render_template`) then execute as an ordinary search."""
        return self.search(index, self.render_template(body)["template_output"])

    def validate_query(self, index: str, body: str | dict,
                       explain: bool = False) -> dict:
        """`GET /{index}/_validate/query`: parse + compile the request
        without running the fetch phase. "Compile" here means building
        the full lazy DataFrame plan — field resolution, date coercion,
        agg compilation and full-text relation wiring all happen at
        plan-build time, so anything search() would reject, this
        rejects, and anything this accepts, search() can execute. With
        ``explain=True`` the per-index explanation is the normalized
        parsed query (this engine's analog of ES's rewritten Lucene
        query string)."""
        import json as _json

        raw = _json.loads(body) if isinstance(body, str) else body
        unknown = (
            model.unknown_query_clauses(raw["query"])
            if isinstance(raw, dict) and isinstance(raw.get("query"), dict)
            else []
        )
        try:
            if unknown:
                raise ValueError(f"unknown query clause(s): {unknown}")
            _, _, d = self.search_df(index, body)
        except Exception as exc:  # noqa: BLE001 — ES returns valid:false, not 500
            resp: dict = {
                "valid": False,
                "_shards": {"total": 1, "successful": 1, "failed": 0},
            }
            if explain:
                resp["explanations"] = [{
                    "index": index, "valid": False, "error": str(exc),
                }]
            return resp
        resp = {
            "valid": True,
            "_shards": {"total": 1, "successful": 1, "failed": 0},
        }
        if explain:
            resp["explanations"] = [{
                "index": index, "valid": True,
                "explanation": repr(d.query),
            }]
        return resp

    _ES_TYPE = {
        "string": "keyword", "bigint": "long", "int": "integer",
        "smallint": "short", "tinyint": "byte", "double": "double",
        "float": "float", "boolean": "boolean", "binary": "binary",
        "date": "date", "timestamp": "date", "timestamp_ntz": "date",
    }

    def field_caps(self, index: str, fields: str | list[str] = "*") -> dict:
        """`GET /{index}/_field_caps?fields=...`: per-field type and
        search/agg capabilities, the negotiation call Kibana/Grafana
        issue before building panels. Typed columns come straight from
        the DataFrame schema (Spark type -> ES type); full-text-indexed
        columns report `text` (searchable, not aggregatable — the
        Lucene contract); their `.keyword` sub-field reports `keyword`
        like an ES default text mapping; template-mapped date fields on
        doc-backed indices report `date`. ``fields`` accepts "*", exact
        names, or trailing-* patterns."""
        spec = self._spec(index)
        caps: dict[str, dict] = {}

        def put(name: str, es_type: str, searchable: bool, aggregatable: bool):
            caps[name] = {es_type: {
                "type": es_type, "metadata_field": False,
                "searchable": searchable, "aggregatable": aggregatable,
            }}

        indexed = spec.indexed_fields()
        for f_name, dtype in spec.df.dtypes:
            if f_name == spec.json_col:
                continue
            if f_name in indexed:
                continue
            if dtype.startswith("array<struct") or dtype.startswith("struct"):
                put(f_name, "nested" if dtype.startswith("array") else "object",
                    True, False)
            else:
                es = self._ES_TYPE.get(dtype, "keyword")
                put(f_name, es, True, True)
        for f_name in indexed:
            put(f_name, "text", True, False)
            put(f_name + ".keyword", "keyword", True, True)
        if spec.doc_backed:
            for f_name in self._date_fields_for(index):
                put(f_name, "date", True, True)

        pats = ["*"] if fields == "*" else (
            [fields] if isinstance(fields, str) else list(fields)
        )

        def wanted(name: str) -> bool:
            for p in pats:
                if p == "*" or name == p:
                    return True
                if p.endswith("*") and name.startswith(p[:-1]):
                    return True
            return False

        return {
            "indices": [index],
            "fields": {k: v for k, v in sorted(caps.items()) if wanted(k)},
        }

    def index_stats(self, index: str | None = None) -> dict:
        """`GET /{index}/_stats` (or all indices): doc counts + on-disk
        index bytes. Doc count is a count-only aggregate; store size
        walks the index directory (0 for purely DataFrame-backed
        indices with no built full-text index)."""
        names = [self._resolve_index(index)[0]] if index else self.list_indices()
        indices = {}
        tot_docs, tot_bytes = 0, 0
        for name in names:
            spec = self.indices[name]
            n = int(spec.df.count())
            nbytes = 0
            for idx_dir in spec.indexed_fields().values():
                # walk only the LIVE generation — after a compaction the
                # index root still holds the retained previous generation,
                # which must not double the reported store size
                from gopensearch_spark.index.builder import resolve_index_dir
                live = resolve_index_dir(idx_dir)
                for root, _dirs, files in os.walk(live):
                    nbytes += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            tot_docs += n
            tot_bytes += nbytes
            indices[name] = {"primaries": {
                "docs": {"count": n, "deleted": 0},
                "store": {"size_in_bytes": nbytes},
            }}
        return {
            "_all": {"primaries": {
                "docs": {"count": tot_docs, "deleted": 0},
                "store": {"size_in_bytes": tot_bytes},
            }},
            "indices": indices,
        }

    def _phrase_suggest(self, spec: IndexSpec, s: dict) -> list[dict]:
        """ES `phrase` suggester ("did you mean"), this engine's pinned
        contract: per analyzed token the candidates are the token itself
        plus its term-suggester corrections; whole-phrase candidates are
        enumerated with at most `max_errors` corrected positions and
        scored by sum(log1p(df) + log(similarity)) — a unigram
        frequency model with a similarity penalty (ES smooths a shingle
        LM; documented divergence, deterministic and oracle-checkable).
        All lookups are bounded by the input's token count."""
        import math as _math

        from gopensearch_spark.analysis import tokenize_with_offsets
        from gopensearch_spark.search.fuzzy import term_suggest
        from gopensearch_spark.search.readers import term_dfs

        p = s["phrase"]
        field = strip_keyword(str(p.get("field", "")))
        if not spec.index_dir or field != spec.text_field:
            raise ValueError(
                f"phrase suggester field {p.get('field')!r} is not the "
                f"indexed text field {spec.text_field!r}")
        text = str(s.get("text", ""))
        size = int(p.get("size", 5))
        me = p.get("max_errors", 1.0)
        per_tok = int(p.get("candidates_per_token", 3))
        toks = [t for t, _, _ in tokenize_with_offsets(text)]
        entry = {"text": text, "offset": 0, "length": len(text), "options": []}
        if not toks:
            return [entry]
        budget = int(me) if float(me) >= 1 else max(1, int(float(me) * len(toks)))
        dfs0 = term_dfs(self.spark, spec.index_dir, sorted(set(toks)))
        cands = []
        for tok in toks:
            c = [(tok, 1.0, dfs0.get(tok, 0))]
            for term, dist, df in term_suggest(
                self.spark, spec.index_dir, tok,
                size=per_tok, max_edits=2, prefix_length=1,
            ):
                c.append((term, 1.0 - dist / max(len(tok), 1), df))
            cands.append(c)
        results: list[tuple[str, float]] = []

        def rec(i: int, errors: int, terms: list[str], score: float) -> None:
            if len(results) >= 5000:  # combinatorial guard
                return
            if i == len(toks):
                results.append((" ".join(terms), score))
                return
            for term, sim, df in cands[i]:
                e = errors + (term != toks[i])
                if e > budget:
                    continue
                rec(i + 1, e, terms + [term],
                    score + _math.log1p(df) + _math.log(max(sim, 1e-9)))

        rec(0, 0, [], 0.0)
        orig = " ".join(toks)
        best = sorted(
            ((t, sc) for t, sc in results if t != orig),
            key=lambda kv: (-kv[1], kv[0]),
        )[:size]
        entry["options"] = [
            {"text": t, "score": round(sc, 6)} for t, sc in best]
        return [entry]

    def _completion_suggest(self, spec: IndexSpec, s: dict) -> list[dict]:
        """ES `completion` suggester (search-as-you-type). Real ES backs
        this with an in-memory FST over a dedicated completion-mapped
        field; this engine serves prefix completion straight from the
        SORTED term_dict side table of the requested indexed field —
        min/max-pruned prefix range scan over O(distinct terms), never
        postings — ranked doc-freq DESC / term ASC (hot suggestions
        first). `skip_duplicates` is inherent: the vocabulary is
        distinct. The prefix is analyzer-cased (unicode61 lowercases)
        so completion agrees with what was indexed."""
        from gopensearch_spark.search.fuzzy import prefix_suggest

        c = s["completion"]
        field = strip_keyword(str(c.get("field", "")))
        indexed = spec.indexed_fields()
        if field not in indexed:
            raise ValueError(
                f"completion suggester field {c.get('field')!r} is not an "
                f"indexed text field (have {sorted(indexed)})"
            )
        prefix = str(s.get("prefix", s.get("text", ""))).strip().lower()
        size = int(c.get("size", 5))
        opts = (
            [
                {"text": term, "score": float(df)}
                for term, df in prefix_suggest(
                    self.spark, indexed[field], prefix, size=size
                )
            ]
            if prefix
            else []
        )
        return [{
            "text": prefix, "offset": 0, "length": len(prefix),
            "options": opts,
        }]

    def _run_suggest(self, index: str, suggest_spec: dict) -> dict:
        """ES `term` suggester: per analyzed input token, vocabulary
        terms within max_edits ranked (distance ASC, doc freq DESC,
        term ASC). Candidates come from the sorted term_dict side table
        (prefix-pruned, O(distinct terms)) — never postings. score =
        1 - distance/len(token), the normalized-similarity shape ES
        reports. suggest_mode=missing (the ES default) emits no options
        for tokens already in the vocabulary."""
        from gopensearch_spark.analysis import tokenize_with_offsets
        from gopensearch_spark.search.fuzzy import term_exists, term_suggest

        spec = self._spec(index)
        out: dict = {}
        for label, s in suggest_spec.items():
            if "phrase" in s:
                out[label] = self._phrase_suggest(spec, s)
                continue
            if "completion" in s:
                out[label] = self._completion_suggest(spec, s)
                continue
            if "term" not in s:
                raise ValueError(
                    f"suggester {label!r}: only the `term`, `phrase` and "
                    "`completion` suggesters are supported"
                )
            t = s["term"]
            field = strip_keyword(str(t.get("field", "")))
            if not spec.index_dir or field != spec.text_field:
                raise ValueError(
                    f"term suggester field {t.get('field')!r} is not the "
                    f"indexed text field {spec.text_field!r}"
                )
            text = str(s.get("text", ""))
            size = int(t.get("size", 5))
            max_edits = int(t.get("max_edits", 2))
            prefix_length = int(t.get("prefix_length", 1))
            mode = str(t.get("suggest_mode", "missing"))
            entries = []
            for tok, start, end in tokenize_with_offsets(text):
                if mode == "missing" and term_exists(
                    self.spark, spec.index_dir, tok
                ):
                    opts: list = []
                else:
                    opts = [
                        {
                            "text": term,
                            "score": round(1.0 - dist / max(len(tok), 1), 6),
                            "freq": df,
                        }
                        for term, dist, df in term_suggest(
                            self.spark, spec.index_dir, tok,
                            size=size, max_edits=max_edits,
                            prefix_length=prefix_length,
                        )
                    ]
                entries.append({
                    "text": tok, "offset": start, "length": end - start,
                    "options": opts,
                })
            out[label] = entries
        return out

    def scroll_search(self, index: str, body: str | dict | None = None,
                      scroll: str = "1m") -> dict:
        """`POST /{index}/_search?scroll=...`: open a scroll cursor.

        Served through search_after internally — every page is a
        strictly-after pushdown predicate on the sort tuple, never an
        offset skip-scan, so page 10^6 costs the same as page 1.
        Without an explicit `sort` the cursor walks the id column
        ascending (ES scrolls in _doc order; id order is this engine's
        stable analogue). Sort fields must be materialized `_source`
        columns (the cursor re-reads its values from the last hit).
        The `scroll` keep-alive is accepted for API parity; cursors
        live for the Engine's lifetime until `clear_scroll`."""
        import uuid

        raw = dict(json.loads(body) if isinstance(body, str) else (body or {}))
        spec = self._spec(index)
        if not raw.get("sort"):
            raw["sort"] = [{spec.id_col: "asc"}]
        else:
            # the cursor predicate is strictly-after on the sort tuple:
            # without a unique tiebreak, ties spanning a page boundary
            # would be skipped — append the id column unless present
            fields = [next(iter(sr)) for sr in raw["sort"]]
            if spec.id_col not in fields:
                raw["sort"] = list(raw["sort"]) + [{spec.id_col: "asc"}]
        raw.pop("search_after", None)
        resp = self.search(index, raw)
        sid = uuid.uuid4().hex
        self._scrolls[sid] = {"index": index, "body": raw}
        self._advance_scroll(sid, resp)
        resp["_scroll_id"] = sid
        return resp

    def _advance_scroll(self, sid: str, resp: dict) -> None:
        st = self._scrolls[sid]
        hits = resp["hits"]["hits"]
        size = st["body"].get("size") or 10  # engine default LIMIT 10
        if not hits or len(hits) < size:
            st["after"] = "__done__"  # short page: nothing follows
            return
        after = hits[-1].get("sort")
        if after is None or any(v is None for v in after):
            raise ValueError(
                "scroll sort fields must be materialized _source columns"
            )
        st["after"] = after

    def scroll(self, scroll_id: str) -> dict:
        """`POST /_search/scroll`: next page of an open cursor."""
        st = self._scrolls.get(scroll_id)
        if st is None:
            raise ValueError(f"unknown or cleared scroll_id {scroll_id!r}")
        if st.get("after") == "__done__":
            resp = {"hits": {"total": {"value": 0, "relation": "eq"},
                             "hits": []}, "_scroll_id": scroll_id}
            return resp
        body = dict(st["body"])
        body["search_after"] = st["after"]
        resp = self.search(st["index"], body)
        self._advance_scroll(scroll_id, resp)
        resp["_scroll_id"] = scroll_id
        return resp

    def clear_scroll(self, scroll_id: str) -> dict:
        """`DELETE /_search/scroll`."""
        found = self._scrolls.pop(scroll_id, None) is not None
        return {"succeeded": found, "num_freed": int(found)}

    def count(self, index: str, body: str | dict | None = None) -> dict:
        """`POST /{index}/_count`: exact hit count of the query, no
        fetch phase — a count-only aggregate over the filtered relation
        (never a sort, never a limit)."""
        d = model.parse_dsl(body or {})
        req: dict = {"track_total_hits": True, "size": 0}
        if d.query is not None:
            raw = body if isinstance(body, dict) else json.loads(body or "{}")
            req["query"] = raw["query"]
        self.search_df(index, req)
        n = self._last_total.value()
        if self._last_cached is not None:
            self._last_cached.unpersist()
            self._last_cached = None
        return {
            "count": n,
            "_shards": {"total": 1, "successful": 1, "skipped": 0, "failed": 0},
        }

    def _fetch_doc_text(self, index: str, doc_id) -> tuple[object, str | None]:
        """One pushdown id-scan: (raw id value row found?, text)."""
        from gopensearch_spark.dsl.compiler import _literal

        spec = self._spec(index)
        if not spec.text_field:
            raise ValueError(f"index {index!r} has no text field")
        rows = (
            spec.df.where(F.col(spec.id_col) == F.lit(_literal(str(doc_id))))
            .select(spec.text_field).collect()
        )
        return (len(rows) > 0), (str(rows[0][0]) if rows else None)

    def termvectors(self, index: str, doc_id, fields: list[str] | None = None) -> dict:
        """`GET /{index}/_termvectors/{id}`: per-field term vectors —
        term_freq + token positions from the index analyzer (exact FTS5
        unicode61 parity, the same tokens the index stores) plus each
        term's index doc_freq from the partition-pruned term_stats
        lookup. ONE bounded id-scan + one pruned stats lookup."""
        from gopensearch_spark.analysis import term_positions
        from gopensearch_spark.search.readers import term_dfs

        spec = self._spec(index)
        found, text = self._fetch_doc_text(index, doc_id)
        resp = {"_index": index, "_id": str(doc_id), "found": found,
                "term_vectors": {}}
        if not found:
            return resp
        pos = term_positions(text)
        stats = {}
        if spec.index_dir:
            stats = term_dfs(self.spark, spec.index_dir, sorted(pos))
        terms = {}
        for t, ps in sorted(pos.items()):
            entry = {
                "term_freq": len(ps),
                "tokens": [{"position": int(p)} for p in ps],
            }
            if t in stats:
                entry["doc_freq"] = int(stats[t])
            terms[t] = entry
        resp["term_vectors"][spec.text_field] = {"terms": terms}
        return resp

    def explain(self, index: str, doc_id, body: str | dict) -> dict:
        """`GET /{index}/_explain/{id}`: the BM25 score breakdown of a
        `match` query against ONE document — per-term tf (analyzer
        parity), df/idf from the index stats, the exact contribution
        formula the scoring engines use. The total equals the doc's
        search score bit-for-bit (pinned in pytest)."""
        import math as _math
        from collections import Counter

        from gopensearch_spark.analysis import normalize_query_terms, term_freqs
        from gopensearch_spark.search.bm25 import B, K1, idf, tf_norm
        from gopensearch_spark.search.readers import corpus_stats, term_dfs

        d = model.parse_dsl(body)
        spec = self._spec(index)
        if not (d.query and len(d.query.match) == 1 and not d.query.bool_):
            raise ValueError("explain supports a single match query")
        (field, m), = d.query.match.items()
        if strip_keyword(field) != spec.text_field or not spec.index_dir:
            raise ValueError(
                f"explain requires the indexed text field {spec.text_field!r}")
        # a repeated query term contributes once per occurrence, as in
        # the scoring engines (idf weighted by its query count)
        counts = Counter(normalize_query_terms(m.query))
        terms = sorted(counts)
        mode_and = m.operator.upper() == "AND"
        found, text = self._fetch_doc_text(index, doc_id)
        resp = {"_index": index, "_id": str(doc_id), "matched": False}
        if not found:
            resp["explanation"] = {"value": 0.0, "description": "document not found",
                                   "details": []}
            return resp
        tfs = term_freqs(text)
        dl = sum(tfs.values())
        stats = corpus_stats(spec.index_dir)
        n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]
        dfs = term_dfs(self.spark, spec.index_dir, terms)
        details, total = [], 0.0
        n_matched = 0
        for t in terms:
            tf = tfs.get(t, 0)
            if tf == 0:
                details.append({"value": 0.0,
                                "description": f"no occurrence of {t!r}"})
                continue
            n_matched += 1
            df_t = dfs.get(t, 0)
            i = idf(n_docs, df_t)
            w = tf_norm(tf, dl, avgdl)
            c = counts[t] * i * w
            total += c
            details.append({
                "value": c,
                "description": (
                    f"weight(text:{t}) query_count={counts[t]} tf={tf} df={df_t} "
                    f"idf={i:.10g} dl={dl} avgdl={avgdl:.10g} "
                    f"k1={K1} b={B}"),
            })
        resp["matched"] = (n_matched == len(terms)) if mode_and else (n_matched > 0)
        resp["explanation"] = {
            "value": total if resp["matched"] else 0.0,
            "description": f"sum of ({'AND' if mode_and else 'OR'} over query terms):",
            "details": details,
        }
        return resp

    def mget(self, body: dict, index: str | None = None) -> dict:
        """`POST /_mget` / `POST /{index}/_mget`: batch doc fetch. One
        `ids` query PER DISTINCT INDEX (not per id) — n requested ids
        cost one pushdown IN-list scan each index, results re-ordered
        to the request order with ES `found` flags."""
        reqs: list[tuple[str | None, str]] = []
        if "docs" in body:
            reqs = [(d.get("_index", index), str(d["_id"])) for d in body["docs"]]
        elif "ids" in body:
            reqs = [(index, str(i)) for i in body["ids"]]
        by_index: dict[str, list[str]] = {}
        for idx, i in reqs:
            if idx is None:
                raise ValueError("mget doc without _index and no default index")
            by_index.setdefault(idx, []).append(i)
        found: dict[tuple[str, str], dict] = {}
        for idx, ids in by_index.items():
            r = self.search(
                idx, {"query": {"ids": {"values": ids}}, "size": len(ids)}
            )
            for h in r["hits"]["hits"]:
                found[(idx, h["_id"])] = h["_source"]
        docs = []
        for idx, i in reqs:
            src = found.get((idx, i))
            d = {"_index": idx, "_id": i, "found": src is not None}
            if src is not None:
                d["_source"] = src
            docs.append(d)
        return {"docs": docs}

    def fts_search(self, index: str, expr: str, size: int = 10) -> dict:
        """Full FTS5 MATCH-expression search (`a AND (b OR c) NOT d`,
        quoted phrases, trailing-star prefixes) over the index's built
        full-text index — the query surface the reference's backend
        accepts through `content MATCH ?` but its own DSL never emits."""
        from gopensearch_spark.search import match_expr_scores

        index = self._resolve_index(index)[0]
        spec = self.indices[index]
        if not spec.index_dir:
            raise ValueError(f"index {index!r} has no full-text index")
        t0 = time.time()
        hits = self._hits_join(spec, match_expr_scores(self.spark, spec.index_dir, expr))
        return self._finish_search(
            index, hits.limit(size), {}, model.Dsl(size=size), None, None, t0)

    def msearch(self, lines: list[dict], max_concurrency: int = 8) -> list[dict]:
        """`POST /_msearch`: alternating header/body pairs. Multi-index
        headers degrade to the first index like the reference
        (server.go:407-410).

        Requests COMPILE serially (cheap driver-only Catalyst work that
        owns the engine's cache slots), all in one query_scope so no
        request releases another's phrase/prefix/NEAR relation, and
        COLLECT concurrently: their Spark jobs overlap in the scheduler,
        amortizing the fixed per-query driver fraction (BENCH.md's
        query-latency-scaling table). Result order is preserved."""
        from gopensearch_spark.search.phrase import query_scope

        with query_scope():
            reqs = [
                self._compile_request(
                    header.get("index") or (header.get("indices") or [None])[0], body)
                for header, body in zip(lines[::2], lines[1::2])
            ]
        if len(reqs) <= 1:
            return [self._finish_search(*r) for r in reqs]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(max_concurrency, len(reqs))
        ) as ex:
            return list(ex.map(lambda r: self._finish_search(*r), reqs))
