"""FTS5-compatible highlight(): wrap match instances in the original text.

Reproduces SQLite FTS5's `highlight(t, col, open, close)` (the fetch-
phase feature of the reference's backend; probed empirically):

- a term leaf wraps EVERY instance of the term individually,
- a phrase leaf wraps each whole phrase span once (first token start to
  last token end in the ORIGINAL text, separators included),
- a prefix leaf wraps every token matching the prefix,
- a NEAR group wraps only instances participating in a valid NEAR
  selection (the same trimmed-instance set its bm25 tf counts).

Every leaf is read through the same instance rule the scoring kernels
use (``phrase._instance_intervals`` over the text's token positions;
NEAR trims with ``phrase._near_kept``), so what is wrapped is what was
counted. Highlighting is a fetch-phase operation over the final top-k
hits (like ES), so it runs on k rows, never on the corpus.
"""

from __future__ import annotations

import numpy as np

from gopensearch_spark.analysis import tokenize_with_offsets
from gopensearch_spark.search.phrase import _instance_intervals, _near_kept


def _leaf_intervals(pos: dict, leaf: tuple) -> list[tuple[np.ndarray, np.ndarray]]:
    """(start, end) token-index arrays of the instances ``leaf`` wraps."""
    kind, val = leaf
    if kind in ("term", "phrase"):
        return [_instance_intervals(pos, leaf)]
    if kind == "prefix":
        return [(p, p) for t, p in pos.items() if t.startswith(val)]
    if kind == "near":
        units, dist = val
        ivs = [_instance_intervals(pos, u) for u in units]
        return [(s[m], e[m]) for (s, e), m in zip(ivs, _near_kept(ivs, dist))]
    raise ValueError(f"unsupported highlight leaf {kind!r}")


def highlight_text(
    text: str,
    leaves: list[tuple],
    open_tag: str = "<b>",
    close_tag: str = "</b>",
) -> str | None:
    """Render ``text`` with every match instance wrapped.

    Returns ``None`` when no leaf matches (including ``text=None``) so the
    caller can OMIT the highlight field entirely — Elasticsearch emits no
    highlight entry for hits whose match came from other clauses."""
    toks = tokenize_with_offsets(text if text is not None else "")
    pos: dict = {}
    for i, (t, _, _) in enumerate(toks):
        pos.setdefault(t, []).append(i)
    pos = {t: np.asarray(p, dtype=np.int64) for t, p in pos.items()}
    spans = [
        (toks[s][1], toks[e][2])
        for leaf in leaves
        for starts, ends in _leaf_intervals(pos, leaf)
        for s, e in zip(starts, ends)
    ]
    if not spans:
        return None
    spans.sort()
    merged = [spans[0]]
    for s, e in spans[1:]:
        ls, le = merged[-1]
        if s <= le:  # overlapping/nested instances merge into one wrap
            merged[-1] = (ls, max(le, e))
        else:
            merged.append((s, e))
    out, last = [], 0
    for s, e in merged:
        out.append(text[last:s])
        out.append(open_tag)
        out.append(text[s:e])
        out.append(close_tag)
        last = e
    out.append(text[last:])
    return "".join(out)


def leaves_for_match(query: str, kind: str = "match") -> list[tuple]:
    """A full-text clause -> highlight leaves (mirrors the Engine's leaf routing)."""
    from gopensearch_spark.analysis import tokenize

    toks = tokenize(query)
    if not toks:  # e.g. a prefix value that normalizes to nothing
        return []
    if kind == "phrase":
        return [("phrase", toks)] if len(toks) > 1 else [("term", toks[0])]
    if kind == "prefix":
        return [("prefix", toks[0])]
    return [("term", t) for t in sorted(set(toks))]
