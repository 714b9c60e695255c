"""Text analysis: an FTS5-`unicode61`-compatible tokenizer.

The reference delegates tokenization to SQLite FTS5's default
``unicode61`` tokenizer (virtual table created with no tokenizer arg,
reference pkg/server/db.go:46-54). unicode61 rules:

- token characters are Unicode alphanumerics (categories L*, N*);
  everything else separates tokens,
- tokens are case-folded to lower case,
- diacritics are removed (``remove_diacritics`` default).

We reproduce that as a pure Python function (used by both the Spark
pandas UDFs and the SQLite-oracle test harness) — NFKD-decompose, drop
combining marks, lower-case, then extract alphanumeric runs. Parity
with FTS5 itself is pinned by tests/test_tokenizer.py via fts5vocab.

All Spark entry points are Arrow-vectorized pandas UDFs — no per-row
Python UDFs (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Unicode alphanumeric runs. \w == L* + N* + M* + Pc in Python regex;
# combining marks (M*) are already stripped by _fold, and we exclude
# Pc (underscore-like connectors) explicitly, matching unicode61's
# "alphanumeric only" rule.
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)


def fold(text: str) -> str:
    """Case-fold + strip diacritics the way unicode61 does (approx).

    ASCII fast path: NFKD is the identity on ASCII and ASCII has no
    combining marks, so folding reduces to ``str.lower`` — byte-identical
    output, and ``str.isascii`` is a C-speed check. Real web text is
    predominantly ASCII, and fold() was >50% of tokenize time (the
    index build's hottest kernel)."""
    if text.isascii():
        return text.lower()
    decomposed = unicodedata.normalize("NFKD", text)
    stripped = "".join(c for c in decomposed if not unicodedata.combining(c))
    return stripped.lower()


def tokenize(text: str) -> list[str]:
    """Tokenize one document exactly like FTS5 unicode61."""
    if not text:
        return []
    return _TOKEN_RE.findall(fold(text))


def term_freqs(text: str) -> dict[str, int]:
    """Term -> tf for one document (doc_len == sum of values)."""
    tf: dict[str, int] = {}
    for tok in tokenize(text):
        tf[tok] = tf.get(tok, 0) + 1
    return tf


def term_positions(text: str) -> dict[str, list[int]]:
    """term -> sorted 0-based token positions (FTS5 detail=full stores
    the same per-posting position lists for phrase/NEAR matching)."""
    pos: dict[str, list[int]] = {}
    for i, tok in enumerate(tokenize(text)):
        pos.setdefault(tok, []).append(i)
    return pos


# --- Arrow-vectorized Spark UDFs -------------------------------------------

@F.pandas_udf(T.ArrayType(T.StringType()))
def tokens_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda s: tokenize(s) if s is not None else [])


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """(folded_token, start_char, end_char) over the ORIGINAL text.

    Runs the token regex on the un-normalized text so offsets index the
    original string (what FTS5's highlight() spans refer to), folding
    each run for comparison. Exact for ASCII; for text where NFKD
    changes run boundaries the offsets are best-effort.
    """
    if not text:
        return []
    return [(fold(m.group(0)), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def normalize_query_terms(query) -> list[str]:
    """Query string OR list of raw terms -> folded index-form tokens.

    FTS5 analyzes query tokens with the same tokenizer as documents
    ('café' matches docs containing 'cafe'); a raw list must get the
    same folding or diacritic queries silently miss.
    """
    if isinstance(query, str):
        return tokenize(query)
    out: list[str] = []
    for q in query:
        out.extend(tokenize(q))
    return out
