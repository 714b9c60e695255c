"""Independent oracles for every output the benchmark times.

Full-text hits (ids and BM25 scores) are checked against SQLite FTS5
(``gopensearch_spark.fts5_oracle``, the ranking the engine reproduces),
event aggregations against DuckDB over the generated table, and
index/pipe outputs against the generator's ground truth. Checks run
after the timed region; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import math

K = 10  # ES default page size


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """Equal scores position by position and equal ids, except that ids
    tied with the last score may differ (ties beyond k are cut freely)."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle {len(want)}"
    for (_, gs), (_, ws) in zip(got, want):
        if not _close(gs, ws):
            return f"scores {[round(s, 9) for _, s in got]} != {[round(s, 9) for _, s in want]}"
    if got:
        last = want[-1][1]
        g = {i for i, s in got if not _close(s, last)}
        w = {i for i, s in want if not _close(s, last)}
        if g != w:
            return f"ids {sorted(g ^ w)[:5]} differ"
    return None


class TextOracle:
    """FTS5 over (doc_id, text, lang) rows; rows may be added in steps."""

    def __init__(self):
        from gopensearch_spark.fts5_oracle import Fts5Oracle

        self.fts = Fts5Oracle()
        self.con = self.fts.con
        self.con.execute("CREATE TABLE meta(id INTEGER PRIMARY KEY, lang TEXT)")

    def add(self, rows) -> None:
        rows = list(rows)
        self.fts.load([(int(i), t) for i, t, _ in rows])
        self.con.executemany("INSERT INTO meta VALUES (?, ?)", [(int(i), lang) for i, _, lang in rows])
        self.con.commit()

    def top(self, expr: str, lang: str | None = None) -> list[tuple[int, float]]:
        where, args = "t MATCH ?", [expr]
        if lang is not None:
            where += " AND rowid IN (SELECT id FROM meta WHERE lang = ?)"
            args.append(lang)
        rows = self.con.execute(
            f"SELECT rowid, -bm25(t) AS s FROM t WHERE {where} ORDER BY s DESC, rowid ASC LIMIT {K}",
            args).fetchall()
        return [(int(r[0]), float(r[1])) for r in rows]

    def count(self, expr: str, lang: str | None = None) -> int:
        where, args = "t MATCH ?", [expr]
        if lang is not None:
            where += " AND rowid IN (SELECT id FROM meta WHERE lang = ?)"
            args.append(lang)
        return self.con.execute(f"SELECT count(*) FROM t WHERE {where}", args).fetchone()[0]

    def total_tokens(self) -> int:
        """Token occurrences over every row, as FTS5's tokenizer counts them."""
        self.con.execute("CREATE VIRTUAL TABLE IF NOT EXISTS v USING fts5vocab(t, 'row')")
        return self.con.execute("SELECT coalesce(sum(cnt), 0) FROM v").fetchone()[0]

    def close(self) -> None:
        self.fts.close()


def fts_expr(query: dict) -> tuple[str, str | None]:
    """(FTS5 MATCH expression, lang filter) for a text request's query."""
    if "bool" in query:
        inner, _ = fts_expr(query["bool"]["must"][0])
        return inner, query["bool"]["filter"][0]["term"]["lang"]
    if "match" in query:
        m = query["match"]["text"]
        q, op = (m, "or") if isinstance(m, str) else (m["query"], m.get("operator", "or").lower())
        return (" " if op == "and" else " OR ").join(f'"{t}"' for t in q.split()), None
    if "match_phrase" in query:
        return f'"{query["match_phrase"]["text"]}"', None
    if "prefix" in query:
        return f'{query["prefix"]["text"]}*', None
    raise ValueError(f"no oracle for {query}")


def check_text(o: TextOracle, body: dict, resp: dict) -> str | None:
    expr, lang = fts_expr(body["query"])
    got = [(int(h["_id"]), float(h["_score"])) for h in resp["hits"]["hits"]]
    err = same_topk(got, o.top(expr, lang))
    if err is None and body.get("track_total_hits"):
        want = o.count(expr, lang)
        if resp["hits"]["total"]["value"] != want:
            err = f"hits.total {resp['hits']['total']['value']} != {want}"
    return err and f"{body['query']}: {err}"


class EventOracle:
    """DuckDB over the generated events table."""

    def __init__(self, table):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("events", table)

    def check(self, body: dict, resp: dict) -> str | None:
        (label, agg), = body["aggs"].items()
        rng = body["query"]["range"]
        (field, bounds), = rng.items()
        if field == "ts":
            where = f"epoch_ms(ts) >= {bounds['gte']} AND epoch_ms(ts) < {bounds['lt']}"
        else:
            where = f"{field} >= {bounds['gte']}"
        buckets = resp["aggregations"][label]["buckets"]
        if "terms" in agg:
            want = dict(self.con.execute(
                f"SELECT event_type, count(*) FROM events WHERE {where} GROUP BY 1").fetchall())
            got = {b["key"]: b["doc_count"] for b in buckets}
        else:
            want = dict(self.con.execute(
                f"SELECT epoch_ms(ts) // 3600000 * 3600000, count(*) FROM events WHERE {where} GROUP BY 1"
            ).fetchall())
            got = {int(b["key"]): b["doc_count"] for b in buckets if b["doc_count"]}
        return None if got == want else f"{label}: {sorted(got.items())[:3]} != {sorted(want.items())[:3]}"

    def close(self) -> None:
        self.con.close()


def check_request(text: TextOracle | None, events: EventOracle | None, body: dict,
                  resp: dict) -> str | None:
    if "aggs" in body:
        return events.check(body, resp)
    return check_text(text, body, resp)


def dup_clusters(pairs) -> dict[int, int]:
    """Union-find over planted duplicate pairs: doc id -> cluster root."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return {x: find(x) for x in parent}
