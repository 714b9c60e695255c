"""ES-shaped response assembly (reference pkg/server/types.go:62-78,
server.go:217-236, db.go:110-168).

Divergences from the reference, on purpose (ES-correct):
- terms buckets report real doc_count (the reference's empty
  `case *dsl.AggTerms:` leaves 0, db.go:131-137);
- hits.total is the returned-hit count like the reference
  (post-LIMIT, server.go:222-230) by default; `track_total_hits`
  (per request, or Engine(track_total_hits=True)) switches to the
  ES-correct exact pre-limit count — Engine.search overrides the
  total this module shapes.
"""

from __future__ import annotations

import datetime as _dt


def _json_safe(v):
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    if isinstance(v, (_dt.date,)):
        return v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v).hex()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _bucket_key(v):
    # bucket keys are string-coerced like the reference (db.go:118-129)
    v = _json_safe(v)
    if isinstance(v, bool):
        return str(v).lower()
    return v if isinstance(v, str) else v


def _shape_agg(kind: str, rws) -> dict:
    """One collected agg relation -> its ES response fragment."""
    if kind == "nested_count":
        return {
            "doc_count": int(rws[0]["doc_count"]) if rws else 0
        }
    elif kind == "metric":
        return {"value": _json_safe(rws[0]["value"]) if rws else None}
    elif kind == "stats":
        if rws:
            r0 = rws[0].asDict()
            return {
                "count": int(r0["count"]),
                "min": _json_safe(r0["min"]),
                "max": _json_safe(r0["max"]),
                "avg": _json_safe(r0["avg"]),
                "sum": _json_safe(r0["sum"]),
            }
        else:
            return {"count": 0, "min": None, "max": None,
                           "avg": None, "sum": 0.0}
    elif kind == "filters":
        # ES keyed form: named buckets as an object, request order
        return {"buckets": {
            r["key"]: {"doc_count": int(r["doc_count"])} for r in rws
        }}
    elif kind == "composite":
        # multi-key buckets: {"key": {src: val, ...}, "doc_count"}
        # + after_key (the LAST page's key — the client's cursor
        # for the next page), exactly the ES pagination contract
        buckets = []
        for r in rws:
            d = r.asDict()
            b = {
                "key": {k: _json_safe(v)
                        for k, v in d.pop("key").asDict().items()},
                "doc_count": int(d.pop("doc_count")),
            }
            for sublabel, v in d.items():
                b[sublabel] = {"value": _json_safe(v)}
            buckets.append(b)
        out = {"buckets": buckets}
        if buckets:
            out["after_key"] = buckets[-1]["key"]
        return out
    elif kind == "vw_buckets":
        # variable_width_histogram: each bucket carries its own
        # min/key(centroid)/max alongside doc_count (ES bucket shape)
        return {"buckets": [
            {
                "min": _json_safe(r["min"]),
                "key": _json_safe(r["key"]),
                "max": _json_safe(r["max"]),
                "doc_count": int(r["doc_count"]),
            }
            for r in rws
        ]}
    elif kind == "extended_stats":
        if rws:
            r0 = rws[0].asDict()
            return {
                "count": int(r0["count"]),
                **{k: _json_safe(r0[k]) for k in
                   ("min", "max", "avg", "sum", "sum_of_squares",
                    "variance", "std_deviation")},
            }
        else:
            return {"count": 0}
    elif kind == "boxplot":
        if rws:
            r0 = rws[0].asDict()
            return {k: _json_safe(r0[k]) for k in ("min", "max", "q1", "q2", "q3")}
        else:
            return {}
    elif kind == "top_metrics":
        if rws:
            r0 = rws[0].asDict()
            sv = r0.pop("sort_value")
            return {"top": [{
                "sort": [_json_safe(sv)],
                "metrics": {k: _json_safe(v) for k, v in r0.items()},
            }]}
        else:
            return {"top": []}
    elif kind == "global":
        if rws:
            d = rws[0].asDict()
            g = {"doc_count": int(d.pop("doc_count"))}
            for sublabel, v in d.items():
                g[sublabel] = {"value": _json_safe(v)}
            return g
        else:
            return {"doc_count": 0}
    elif kind == "sig_buckets":
        return {"buckets": [
            {
                "key": _bucket_key(r["key"]),
                "doc_count": int(r["doc_count"]),
                "bg_count": int(r["bg_count"]),
                "score": float(r["score"]),
            }
            for r in rws
        ]}
    elif kind == "tophits":
        # terms buckets whose array-valued sub-labels are the
        # per-bucket top_hits (ES hits envelope); scalar
        # sub-labels stay metric-shaped
        buckets = []
        for r in rws:
            d = r.asDict()
            b = {"key": _bucket_key(d.pop("key")),
                 "doc_count": int(d.pop("doc_count"))}
            for sublabel, v in d.items():
                if isinstance(v, list):
                    b[sublabel] = {"hits": {"hits": [
                        {"_source": {k: _json_safe(x) for k, x
                                     in h.asDict(recursive=True).items()}}
                        for h in (v or [])
                    ]}}
                else:
                    b[sublabel] = {"value": _json_safe(v)}
            buckets.append(b)
        return {"buckets": buckets}
    elif kind == "percentiles":
        if rws:
            r0 = rws[0]
            return {"values": {
                str(float(p)): _json_safe(v)
                for p, v in zip(r0["percents"], r0["values"])
            }}
        else:
            return {"values": {}}
    else:
        buckets = []
        for r in rws:
            d = r.asDict()
            b = {"key": _bucket_key(d.pop("key")), "doc_count": int(d.pop("doc_count"))}
            for sublabel, v in d.items():
                b[sublabel] = {"value": _json_safe(v)}
            buckets.append(b)
        return {"buckets": buckets}




def shape_response(index: str, rows, agg_rows: dict, id_col: str, took_ms: int) -> dict:
    hits = []
    for i, r in enumerate(rows):
        src = {k: _json_safe(v) for k, v in r.asDict().items()}
        score = src.pop("score", None)
        hits.append(
            {
                "_index": index,
                "_id": str(src.get(id_col, i)),
                "_score": score,
                "_source": src,
            }
        )
    resp = {
        "took": took_ms,
        "timed_out": False,
        "_shards": {"total": 1, "successful": 1, "skipped": 0, "failed": 0},
        "hits": {
            "total": {"value": len(hits), "relation": "eq"},
            "hits": hits,
        },
    }
    if agg_rows:
        aggs = {}
        for label, (kind, rws) in agg_rows.items():
            if ">" in label:
                continue  # nested sub-agg: reassembled below
            aggs[label] = _shape_agg(kind, rws)
        for label, (kind, rws) in agg_rows.items():
            if ">" in label:
                parent, sub = label.split(">", 1)
                aggs.setdefault(parent, {})[sub] = _shape_agg(kind, rws)
        resp["aggregations"] = aggs
    return resp
