"""Layer tracing from outside the package.

``Tracer.install`` wraps each boundary function named in ``BOUNDARIES``
by rebinding every module attribute (and ``Engine`` method) that refers
to it, so calls made through function-local imports are traced too.
Each call records a span: name, start and end, parent span, thread,
and the range of Spark job ids the DAG scheduler handed out while it
was open. Every span also sets its own Spark job group on its thread,
so jobs submitted inside it are owned exactly even when spans on other
threads overlap; jobs whose group names no span (``msearch`` collects
on pool threads, the streaming engine's own jobs) fall back to the
innermost main-thread span whose id range holds them. After the run,
``Tracer.layer_metrics`` reads each job's stages from Spark's status
store (live with ``spark.ui.enabled=false``) for executor CPU time and
shuffle bytes.

Spans stay in memory until the run ends; nothing is written while it
measures.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"

# layer.name -> [(module, attribute)] ; "Engine.<m>" names an Engine method
BOUNDARIES: dict[str, list[tuple[str, str]]] = {
    "dsl.parse_dsl": [("gopensearch_spark.dsl.model", "parse_dsl")],
    "dsl.search_df": [("gopensearch_spark.dsl.engine", "Engine.search_df")],
    "dsl.search": [("gopensearch_spark.dsl.engine", "Engine.search")],
    "dsl.msearch": [("gopensearch_spark.dsl.engine", "Engine.msearch")],
    "dsl.shape_response": [("gopensearch_spark.dsl.response", "shape_response")],
    "search.wand_match": [("gopensearch_spark.search.wand", "wand_match")],
    "search.bm25_scores": [("gopensearch_spark.search.bm25", "bm25_scores")],
    "search.positional": [("gopensearch_spark.search.phrase", f) for f in
                          ("phrase_match", "phrase_prefix_match", "prefix_match", "near_match")],
    "search.term_dfs": [("gopensearch_spark.search.readers", "term_dfs")],
    "index.build_index": [("gopensearch_spark.index.builder", "build_index")],
    "index.build_postings": [("gopensearch_spark.index.builder", "build_postings")],
    "index.finalize_stats": [("gopensearch_spark.index.builder", "finalize_stats")],
    "index.rebuild_term_dict": [("gopensearch_spark.index.builder", "rebuild_term_dict")],
    "index.fold_corpus_stats": [("gopensearch_spark.index.builder", "fold_corpus_stats")],
    "index.compact_streaming_index": [("gopensearch_spark.index.builder", "compact_streaming_index")],
    "streaming.index_stream_available_now": [
        ("gopensearch_spark.streaming.ingest", "index_stream_available_now")],
}
# datapipe operators are timed at their sinks by the workload itself
DATAPIPE_OPS = ["exact_dedup", "minhash_lsh_pairs", "segment_dedup", "decontaminate",
                "quality_score", "repetition_stats", "scrub_pii"]
FUNCTIONS = list(BOUNDARIES) + [f"datapipe.{op}" for op in DATAPIPE_OPS]
STATS = ("calls", "self_ms", "jobs", "exec_cpu_ms", "shuffle_bytes")
INDEX_TABLES = ("postings", "blocks", "term_stats", "term_dict", "doc_stats")
# read-side layers are normalised per request, the rest per 1,000 input docs
PER_REQUEST_LAYERS = ("dsl", "search")


def per_layer_spec() -> list[dict]:
    """Every per-layer metric with its unit and direction, in output order."""
    out = []
    for fn in FUNCTIONS:
        base = "req" if fn.split(".")[0] in PER_REQUEST_LAYERS else "kdoc"
        units = {"calls": "count", "self_ms": "ms", "jobs": "count",
                 "exec_cpu_ms": "ms", "shuffle_bytes": "B"}
        for st in STATS:
            out.append({"name": f"{fn}.{st}", "unit": f"{units[st]}/{base}", "better": "lower"})
    out.append({"name": "search.term_dfs.hit_rate", "unit": "ratio", "better": "higher"})
    out.append({"name": "dsl.rows_scanned_per_hit", "unit": "rows/hit", "better": "lower"})
    for t in INDEX_TABLES:
        out.append({"name": f"index.bytes.{t}", "unit": "B/kdoc", "better": "lower"})
    out.append({"name": "index.files", "unit": "count/kdoc", "better": "lower"})
    out.append({"name": "trace.overhead_pct", "unit": "%", "better": "lower"})
    out.append({"name": "trace.coverage", "unit": "ratio", "better": "higher"})
    return out


@dataclass(eq=False)
class Span:
    id: int
    name: str
    parent: "Span | None"
    thread: int
    t0: float = 0.0
    t1: float = 0.0
    j0: int = 0
    j1: int = 0
    jobs: int = 0
    cpu_ns: int = 0
    shuffle: int = 0
    children: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3

    def self_ms(self) -> float:
        """Duration minus the part of it covered by child spans (children
        on other threads may overlap each other, so take their union)."""
        iv = sorted((max(c.t0, self.t0), min(c.t1, self.t1)) for c in self.children)
        covered, end = 0.0, self.t0
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return max(0.0, (self.t1 - self.t0 - covered) * 1e3)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0
        self.term_requested = 0
        self.term_cached = 0
        self.hits_frames: list = []  # (hits DataFrame, hits returned)
        self._last_hits = None
        self.t_install = 0.0

    # --- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str) -> tuple[Span, object]:
        o0 = time.perf_counter()
        stack = self._stack()
        # a span on a thread with no open span belongs under the main
        # thread's innermost span (msearch pool threads, foreachBatch)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, parent, threading.get_ident())
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"pb-{s.id}")
        s.j0 = self._dag.nextJobId()
        stack.append(s)
        s.t0 = time.perf_counter()
        with self._lock:
            self.overhead_s += s.t0 - o0
        return s, prev

    def close(self, s: Span, prev) -> None:
        s.t1 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        s.j1 = self._dag.nextJobId()
        self.sc.setLocalProperty(GROUP, prev)
        with self._lock:
            self.spans.append(s)
            if s.parent is not None:
                s.parent.children.append(s)
            self.overhead_s += time.perf_counter() - s.t1

    @contextlib.contextmanager
    def span(self, name: str):
        s, prev = self.open(name)
        try:
            yield s
        finally:
            self.close(s, prev)

    # --- patching ------------------------------------------------------
    def install(self) -> None:
        import importlib

        from gopensearch_spark.dsl.engine import Engine

        self.t_install = time.perf_counter()
        for name, targets in BOUNDARIES.items():
            for mod_name, attr in targets:
                if attr.startswith("Engine."):
                    meth = attr.split(".", 1)[1]
                    orig = getattr(Engine, meth)
                    setattr(Engine, meth, self._wrap(name, orig))
                    self._restore.append((Engine, meth, orig))
                    continue
                orig = getattr(importlib.import_module(mod_name), attr)
                wrapped = self._wrap(name, orig)
                # rebind every alias: package re-exports and top-level
                # `from ... import` bindings in other modules
                for mname, mod in list(sys.modules.items()):
                    if not mname.startswith("gopensearch_spark") or mod is None:
                        continue
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, wrapped)
                            self._restore.append((mod, k, orig))

    def uninstall(self) -> None:
        for obj, k, orig in reversed(self._restore):
            setattr(obj, k, orig)
        self._restore.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if name == "search.term_dfs":
                tracer._count_term_cache(*a, **kw)
            with tracer.span(name):
                out = fn(*a, **kw)
            if name == "dsl.search_df":
                tracer._last_hits = out[0]
            elif name == "dsl.search" and tracer._last_hits is not None:
                tracer.hits_frames.append((tracer._last_hits, len(out["hits"]["hits"])))
                tracer._last_hits = None
            return out

        return traced

    def _count_term_cache(self, spark, index_dir, terms):
        from gopensearch_spark.search import readers

        cached = readers._TERM_DF_CACHE.get((id(spark), index_dir), {})
        uniq = set(terms)
        with self._lock:
            self.term_requested += len(uniq)
            self.term_cached += sum(t in cached for t in uniq)

    # --- post-run attribution -------------------------------------------
    def attribute_jobs(self) -> None:
        """Give every job launched inside a span to its owning span, with
        the executor CPU time and shuffle bytes of its stages."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {f"pb-{s.id}": s for s in self.spans}
        main = sorted((s for s in self.spans if s.thread == self._main and s.j1 > s.j0),
                      key=lambda s: s.j0)
        if not self.spans:
            return
        lo = min(s.j0 for s in self.spans)
        hi = max(s.j1 for s in self.spans)
        stage_cache: dict[int, tuple[int, int]] = {}
        for j in range(lo, hi):
            try:
                jd = store.job(j)
            except Py4JJavaError:  # NoSuchElementException: not retained
                continue
            g = jd.jobGroup()
            owner = by_group.get(g.get()) if g.isDefined() else None
            if owner is None:
                holders = [s for s in main if s.j0 <= j < s.j1]
                if not holders:
                    continue
                owner = max(holders, key=lambda s: (s.j0, -s.j1))
            owner.jobs += 1
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid not in stage_cache:
                    try:
                        sd = store.lastStageAttempt(sid)
                        stage_cache[sid] = (int(sd.executorCpuTime()), int(sd.shuffleWriteBytes()))
                    except Py4JJavaError:  # stage not retained
                        stage_cache[sid] = (0, 0)
                cpu, sh = stage_cache[sid]
                owner.cpu_ns += cpu
                owner.shuffle += sh

    def rows_scanned(self) -> tuple[int, int]:
        """(scan numOutputRows, hits returned) over the traced ``_search``
        requests on full-text indices that returned hits."""
        rows = hits = 0
        for df, n in self.hits_frames:
            if n:
                rows += scan_rows(df._jdf.queryExecution().executedPlan())
                hits += n
        return rows, hits

    def layer_metrics(self, n_kdocs: float, index_dir: str | None, index_docs: int) -> dict[str, float]:
        """The per-layer metric table (every name of ``per_layer_spec``).
        Read layers are divided by the traced requests (set-up's warm-up
        requests included), write and pipe layers by ``n_kdocs``, the
        thousands of input docs that all traced writes and operators
        (set-up included) processed."""
        wall_s = time.perf_counter() - self.t_install
        self.attribute_jobs()
        n_requests = sum(s.name in ("dsl.search", "dsl.msearch") for s in self.spans)
        acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STATS, 0.0))
        for s in self.spans:
            if s.name not in FUNCTIONS:
                continue
            a = acc[s.name]
            a["calls"] += 1
            a["self_ms"] += s.self_ms()
            a["jobs"] += s.jobs
            a["exec_cpu_ms"] += s.cpu_ns / 1e6
            a["shuffle_bytes"] += s.shuffle
        out: dict[str, float] = {}
        for fn in FUNCTIONS:
            base = n_requests if fn.split(".")[0] in PER_REQUEST_LAYERS else n_kdocs
            for st in STATS:
                v = acc[fn][st] if fn in acc else 0.0
                out[f"{fn}.{st}"] = v / base if base else 0.0
        out["search.term_dfs.hit_rate"] = (
            self.term_cached / self.term_requested if self.term_requested else 0.0)
        rows, hits = self.rows_scanned()
        out["dsl.rows_scanned_per_hit"] = rows / hits if hits else 0.0
        sizes, files = index_sizes(index_dir) if index_dir else ({}, 0)
        kd = index_docs / 1000 if index_docs else 0
        for t in INDEX_TABLES:
            out[f"index.bytes.{t}"] = sizes.get(t, 0) / kd if kd else 0.0
        out["index.files"] = files / kd if kd else 0.0
        out["trace.overhead_pct"] = 100.0 * self.overhead_s / wall_s
        roots = [s for s in self.spans if s.parent is None]
        total = sum(s.ms for s in roots)
        # an op.* root is the workload's own loop; boundary roots count whole
        covered = sum(s.ms - s.self_ms() if s.name.startswith("op.") else s.ms for s in roots)
        out["trace.coverage"] = min(1.0, covered / total) if total else 0.0
        return out

    def check_self_times(self) -> list[str]:
        """Self times never exceed their span; a root's subtree self
        times add up to its wall time (within 1 ms per span)."""
        bad = []
        for s in self.spans:
            if s.self_ms() > s.ms + 1e-6:
                bad.append(f"{s.name}#{s.id}: self {s.self_ms():.3f} > span {s.ms:.3f}")
        for r in (s for s in self.spans if s.parent is None):
            tot, stack = 0.0, [r]
            while stack:
                x = stack.pop()
                tot += x.self_ms()
                stack.extend(x.children)
            if tot + 1.0 < r.ms:
                bad.append(f"{r.name}#{r.id}: subtree self {tot:.1f} < wall {r.ms:.1f}")
        return bad


def scan_rows(plan) -> int:
    """Sum ``numOutputRows`` of every scan node in an executed plan,
    descending into adaptive query stages."""
    total, stack = 0, [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if "Scan" in p.nodeName():
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return total


def index_sizes(index_dir: str) -> tuple[dict[str, int], int]:
    """Bytes per index table and the number of data files in the
    committed generation of ``index_dir``."""
    from gopensearch_spark.index.builder import resolve_index_dir

    root = resolve_index_dir(index_dir)
    sizes: dict[str, int] = {}
    files = 0
    for t in INDEX_TABLES:
        p = os.path.join(root, t)
        for dp, _dn, fns in os.walk(p):
            for f in fns:
                if f.startswith((".", "_")):
                    continue
                sizes[t] = sizes.get(t, 0) + os.path.getsize(os.path.join(dp, f))
                files += 1
    return sizes, files
