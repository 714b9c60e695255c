"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from one integer
seed: the same seed gives byte-identical inputs. Text follows a Zipf
law over a vocabulary whose head ranks are the 31 words of the legacy
``documents`` fixture and whose tail is ~10^5 generated lowercase-ASCII
tokens (the ``unicode61`` tokenizer keeps them intact), so head/tail
document frequencies, idf spread and block-max skipping behave as on
real text. No document is a verbatim copy of another except the exact
duplicates planted on purpose for the dedup operators.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rank order of the legacy fixture's words (most frequent first)
HEAD_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch", "dup",
]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_P = [0.45, 0.3, 0.1, 0.1, 0.05]
EVENT_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 7
WEB_T0_MS = 1_668_124_800_000
# the html framing the package's extractor recovers text from
_HTML_PREFIX, _HTML_MID, _HTML_SUFFIX = (
    "<html><head><title>", "</title></head><body>", "</body></html>")

ZIPF_S = 1.0
N_TAIL = 100_000


def vocabulary(rng: np.random.Generator, n_tail: int = N_TAIL) -> np.ndarray:
    """Head words, then ``n_tail`` distinct generated tokens of 4-10
    lowercase letters, in Zipf rank order."""
    n_draw = int(n_tail * 1.05) + 64
    lens = rng.integers(4, 11, n_draw)
    letters = rng.integers(0, 26, int(lens.sum()), dtype=np.uint8) + ord("a")
    blob = letters.tobytes().decode("ascii")
    ends = np.cumsum(lens)
    words = dict.fromkeys(blob[e - n:e] for e, n in zip(ends, lens))
    for w in HEAD_WORDS:
        words.pop(w, None)
    tail = list(words)[:n_tail]
    if len(tail) < n_tail:
        raise RuntimeError("vocabulary draw too small")
    return np.array(HEAD_WORDS + tail, dtype=object)


def zipf_p(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass
class Corpus:
    """(doc_id, text, lang) rows plus the ground truth the oracles use."""

    doc_id: np.ndarray
    text: list[str]
    lang: list[str]
    n_tokens: np.ndarray
    vocab: np.ndarray
    extra: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.text)

    def properties(self) -> dict:
        text_bytes = sum(len(t) for t in self.text)  # ASCII: chars == bytes
        distinct = len(set(self.text))
        return {
            "docs": self.n_docs,
            "tokens": int(self.n_tokens.sum()),
            "text_bytes": text_bytes,
            "vocabulary": len(self.vocab),
            "exact_dup_rate": round(1 - distinct / max(self.n_docs, 1), 6),
            **{k: v for k, v in self.extra.items() if isinstance(v, (int, float))},
        }


def _draw_texts(rng, vocab, lens) -> list[str]:
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=zipf_p(len(vocab)))
    words = vocab[toks]
    out, o = [], 0
    for n in lens:
        out.append(" ".join(words[o:o + n]))
        o += n
    return out


def doc_lengths(rng, n: int, median: int = 50, sigma: float = 0.6,
                lo: int = 8, hi: int = 400) -> np.ndarray:
    return np.clip(rng.lognormal(np.log(median), sigma, n).astype(np.int64), lo, hi)


def corpus(seed: int, n_docs: int) -> Corpus:
    """Plain Zipf corpus with doc ids 1..n_docs."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    lens = doc_lengths(rng, n_docs)
    texts = _draw_texts(rng, vocab, lens)
    lang = list(rng.choice(LANGS, size=n_docs, p=LANG_P))
    ids = np.arange(1, n_docs + 1, dtype=np.int64)
    return Corpus(ids, texts, lang, lens, vocab)


def write_docs(c: Corpus, path: str) -> None:
    """(doc_id, text, lang) parquet."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"doc_id": c.doc_id, "text": c.text, "lang": c.lang}), path)


def url(doc: int) -> str:
    return f"https://site{doc % 997}.example/page/{doc}"


def write_web_pages(c: Corpus, path: str, start: int, stop: int) -> None:
    """``web_pages`` parquet (url, warc_ts, html, text, lang) for rows
    ``start:stop`` of ``c``; the html embeds the text verbatim."""
    ids = c.doc_id[start:stop]
    urls = [url(i) for i in ids]
    texts = c.text[start:stop]
    html = [(_HTML_PREFIX + u + _HTML_MID + t + _HTML_SUFFIX).encode() for u, t in zip(urls, texts)]
    ts = pa.array((WEB_T0_MS + ids * 1000).astype("datetime64[ms]"), type=pa.timestamp("ms", tz="UTC"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "url": urls, "warc_ts": ts, "html": pa.array(html, type=pa.binary()),
        "text": texts, "lang": c.lang[start:stop],
    }), path)


def events(seed: int, n: int) -> pa.Table:
    """Events table shaped like the legacy fixture (event_id, ts,
    user_id, event_type, value, props) over ``EVENT_DAYS`` days."""
    rng = np.random.default_rng([seed, 2])
    ts_ms = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000, n)) + EVENT_T0_MS
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts_ms.astype("datetime64[ms]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 2000, n),
        "event_type": rng.choice(EVENT_TYPES, size=n, p=EVENT_P),
        "value": np.round(rng.lognormal(3.5, 1.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


# --- request mix --------------------------------------------------------

def _df_band(rng, c: Corpus, lo: int, hi: int) -> str:
    """A term that occurs in the corpus, drawn from Zipf ranks [lo, hi)."""
    present = c.extra["present_ranks"]
    band = present[(present >= lo) & (present < hi)]
    return str(c.vocab[int(band[rng.integers(len(band))])])


def _distinct_terms(rng, c: Corpus, bands) -> str:
    """One term per ``(lo, hi)`` band, no term twice: FTS5 scores a
    repeated query term once per occurrence, the engine once."""
    terms: list[str] = []
    for lo, hi in bands:
        t = _df_band(rng, c, lo, hi)
        while t in terms:
            t = _df_band(rng, c, lo, hi)
        terms.append(t)
    return " ".join(terms)


def present_ranks(c: Corpus) -> np.ndarray:
    """Zipf ranks of the vocabulary words that occur in the corpus."""
    rank = {w: i for i, w in enumerate(c.vocab)}
    seen = {rank[w] for t in c.text for w in t.split() if w in rank}
    return np.array(sorted(seen), dtype=np.int64)


def _bigram(rng, c: Corpus) -> str:
    """Two different adjacent vocabulary words from a random document,
    the first not a head word, so phrases hit a handful to a few hundred
    docs."""
    while True:
        toks = c.text[int(rng.integers(c.n_docs))].split()
        i = int(rng.integers(len(toks) - 1))
        a, b = toks[i], toks[i + 1]
        if a.isalpha() and b.isalpha() and a not in HEAD_WORDS and a != b:
            return f"{a} {b}"


def _prefix(rng, c: Corpus) -> str:
    w = _df_band(rng, c, 200, 5_000)
    return w[:3]


# one search_mix cycle: (kind, count) of single _search requests, then
# MSEARCH_PER_CYCLE _msearch requests; 34 requests, so a 12 s run on 4
# cores is one cycle and its median has 32 samples
SEARCH_CYCLE = [
    ("match_head", 4), ("match_mid", 4), ("match_tail", 4),
    ("match_and2", 4), ("match_or3", 4), ("match_phrase", 2), ("prefix", 2),
    ("bool_filter", 4), ("terms_agg", 2), ("date_histogram", 2),
]
MSEARCH_PER_CYCLE = 2


def request(rng, c: Corpus, kind: str) -> tuple[str, dict]:
    """(index, body) of one request of ``kind``."""
    if kind == "match_head":
        return "docs", {"query": {"match": {"text": _df_band(rng, c, 0, len(HEAD_WORDS))}}}
    if kind == "match_mid":
        return "docs", {"query": {"match": {"text": _df_band(rng, c, 100, 2_000)}},
                        "track_total_hits": True}
    if kind == "match_tail":
        return "docs", {"query": {"match": {"text": _df_band(rng, c, 5_000, 100_000)}}}
    if kind == "match_and2":
        q = _distinct_terms(rng, c, ((0, 200), (30, 1_000)))
        return "docs", {"query": {"match": {"text": {"query": q, "operator": "and"}}}}
    if kind == "match_or3":
        q = _distinct_terms(rng, c, ((30, 300), (300, 3_000), (3_000, 30_000)))
        return "docs", {"query": {"match": {"text": q}}}
    if kind == "match_phrase":
        return "docs", {"query": {"match_phrase": {"text": _bigram(rng, c)}}}
    if kind == "prefix":
        return "docs", {"query": {"prefix": {"text": _prefix(rng, c)}}}
    if kind == "bool_filter":
        return "docs", {"query": {"bool": {
            "must": [{"match": {"text": _df_band(rng, c, 50, 1_000)}}],
            "filter": [{"term": {"lang": str(rng.choice(LANGS))}}],
        }}, "track_total_hits": True}
    if kind == "terms_agg":
        return "events", {"size": 0, "query": {"range": {"value": {"gte": round(float(rng.uniform(5, 60)), 2)}}},
                          "aggs": {"types": {"terms": {"field": "event_type", "size": 5}}}}
    if kind == "date_histogram":
        lo = int(rng.integers(0, EVENT_DAYS - 2))
        gte = EVENT_T0_MS + lo * 86_400_000
        return "events", {"size": 0, "query": {"range": {"ts": {"gte": gte, "lt": gte + 2 * 86_400_000}}},
                          "aggs": {"hist": {"date_histogram": {"field": "ts", "fixed_interval": "1h"}}}}
    raise ValueError(kind)


def search_cycle(rng, c: Corpus) -> list[tuple[str, str, dict]]:
    """One shuffled cycle of the mix: (kind, index, body) triples,
    ending with ``MSEARCH_PER_CYCLE`` ``_msearch`` requests of 4 text
    bodies each."""
    kinds = [k for k, n in SEARCH_CYCLE for _ in range(n)]
    rng.shuffle(kinds)
    out = [(k, *request(rng, c, k)) for k in kinds]
    for _ in range(MSEARCH_PER_CYCLE):
        lines = []
        for k in ("match_mid", "match_and2", "match_tail", "bool_filter"):
            idx, body = request(rng, c, k)
            lines += [{"index": idx}, body]
        out.append(("msearch", "_msearch", {"lines": lines}))
    return out


# --- datapipe corpus ------------------------------------------------------

_BOILER = 24


def pipe_corpus(seed: int, n_docs: int) -> Corpus:
    """Multi-paragraph docs with planted exact duplicates, one-word
    near-duplicates, shared boilerplate paragraphs, PII and benchmark
    13-gram contamination. Ground truth goes in ``Corpus.extra``."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    n_par = rng.integers(3, 7, n_docs)
    par_lens = rng.integers(15, 40, int(n_par.sum()))
    pars = _draw_texts(rng, vocab, par_lens)
    boiler = _draw_texts(rng, vocab, np.full(_BOILER, 12))
    tail_p = zipf_p(len(vocab))[len(HEAD_WORDS) + 1000:]
    bench = [" ".join(vocab[len(HEAD_WORDS) + 1000 + rng.choice(len(tail_p), 30, p=tail_p / tail_p.sum())])
             for _ in range(20)]
    texts, o = [], 0
    for n in n_par:
        p = pars[o:o + n]
        o += n
        if rng.random() < 0.2:
            p = p + [boiler[int(rng.integers(_BOILER))]]
        texts.append(p)
    role = rng.random(n_docs)
    pii: set[int] = set()
    contaminated: set[int] = set()
    dup_pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        if role[i] < 0.04:  # PII
            kind = int(rng.integers(4))
            d = rng.integers(0, 10, 10)
            tok = [f"user{d[0]}{d[1]}@mail{d[2]}.example.com",
                   f"{d[0]}{d[1]}{d[2]}-{d[3]}{d[4]}-{d[5]}{d[6]}{d[7]}{d[8]}",
                   f"10.{d[0]}{d[1]}.{d[2]}.{d[3]}{d[4]}",
                   f"({d[0] % 8 + 2}{d[1]}{d[2]}) {d[3]}{d[4]}{d[5]}-{d[6]}{d[7]}{d[8]}{d[9]}"][kind]
            p = texts[i][0].split(" ")
            p.insert(int(rng.integers(len(p) + 1)), tok)
            texts[i][0] = " ".join(p)
            pii.add(i)
        elif role[i] < 0.05:  # contamination: 15 words from a benchmark text
            b = bench[int(rng.integers(len(bench)))].split(" ")
            s = int(rng.integers(0, len(b) - 15))
            texts[i][-1] = texts[i][-1] + " " + " ".join(b[s:s + 15])
            contaminated.add(i)
    flat = ["\n".join(p) for p in texts]
    # duplicates copy plain (role >= 0.05) source docs appearing earlier
    for i in range(n_docs):
        if 0.05 <= role[i] < 0.07 and i > 0:  # exact duplicate
            j = int(rng.integers(i))
            if role[j] >= 0.07:
                flat[i] = flat[j]
                dup_pairs.append((j, i))
        elif 0.07 <= role[i] < 0.10 and i > 0:  # near duplicate: last word changed,
            j = int(rng.integers(i))         # so word-shingle Jaccard stays >= 0.95
            if role[j] >= 0.10:
                head, _, _ = flat[j].rpartition(" ")
                flat[i] = f"{head} {vocab[int(rng.integers(len(HEAD_WORDS), len(vocab)))]}"
                dup_pairs.append((j, i))
    ids = np.arange(1, n_docs + 1, dtype=np.int64)
    n_tokens = np.array([len(t.split()) for t in flat], dtype=np.int64)
    extra = {
        "pii_planted": len(pii),
        "pii_ids": {int(ids[i]) for i in pii},
        "contaminated_docs": len(contaminated),
        "contaminated_ids": {int(ids[i]) for i in contaminated},
        "dup_pairs": [(int(ids[a]), int(ids[b])) for a, b in dup_pairs],
        "bench": bench,
        "dup_pair_rate": round(len(dup_pairs) / n_docs, 6),
    }
    lang = list(rng.choice(LANGS, size=n_docs, p=LANG_P))
    return Corpus(ids, flat, lang, n_tokens, vocab, extra)
