"""Tokenizer — vectorized Arrow/pandas UDF reproducing the reference analyzer.

Semantics (reference lib/src/bm25.dart:681-735, verified against the golden
example output and the reference unicode test corpus):

- pure-ASCII text: maximal runs of ``[A-Za-z0-9_]`` (a run MAY start with a
  digit or underscore), lowercased (bm25.dart:698-721);
- text with any non-ASCII char: whole text lowercased, tokens match
  ``\\p{L}[\\p{L}\\p{N}_]*`` — must START with a letter (bm25.dart:723-735);
- tokens shorter than 2 chars dropped; stopwords dropped (bm25.dart:712,729);
- CJK without separators stays ONE token (no segmentation — matches the
  reference, test/bm25_test.dart:205-240).

The UDF is an Arrow-batched pandas UDF: Python regex runs per row inside the
batch, but data transfer and scheduling are vectorized (no row-at-a-time
pickling). This is the input_hint-mandated slow path; everything downstream
of tokenization stays in JVM expressions.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_ASCII_WORD = re.compile(r"[a-z0-9_]+")
# Python stdlib equivalent of \p{L}[\p{L}\p{N}_]* : [^\W\d_] is a letter.
_UNICODE_WORD = re.compile(r"[^\W\d_]\w*", re.UNICODE)


def tokenize_text(text: str | None, stopwords: frozenset[str] | None = None) -> list[str]:
    """Single-string tokenizer (driver side: queries, small fixtures)."""
    if not text:
        return []
    lowered = text.lower()
    words = (_ASCII_WORD if text.isascii() else _UNICODE_WORD).findall(lowered)
    if stopwords:
        return [w for w in words if len(w) >= 2 and w not in stopwords]
    return [w for w in words if len(w) >= 2]


def tokenize_batch(texts: pd.Series, stopwords: frozenset[str] | None) -> pd.Series:
    return pd.Series(
        [tokenize_text(t, stopwords) for t in texts], index=texts.index
    )


# ASCII fast-path byte table: [a-z0-9_] identity, [A-Z] lowered, every
# other byte -> space. translate+split runs in C and produces exactly the
# maximal [A-Za-z0-9_]+ runs of the reference analyzer (bm25.dart:698-721);
# tokens stay BYTES in the build's hot loop and decode once per unique
# vocabulary entry, not once per occurrence.
_ASCII_TBL = bytes(
    (
        c + 32
        if 0x41 <= c <= 0x5A  # A-Z -> a-z
        else (
            c
            if (0x61 <= c <= 0x7A) or (0x30 <= c <= 0x39) or c == 0x5F
            else 0x20
        )
    )
    for c in range(256)
)


def make_tokenize_udf(stopwords=None):
    """Returns a pandas UDF Column-function: text -> array<string> terms."""
    stop = frozenset(stopwords) if stopwords else None

    @F.pandas_udf(ArrayType(StringType()))
    def tokenize(texts: pd.Series) -> pd.Series:
        return tokenize_batch(texts, stop)

    return tokenize


def query_term_counts(query: str, stopwords=None) -> dict[str, int]:
    """Query tokens WITH multiplicity (reference keeps duplicates,
    bm25.dart:635) folded into term -> qtf counts: summing qtf * contribution
    is mathematically identical to repeated addition."""
    stop = frozenset(stopwords) if stopwords else None
    counts: dict[str, int] = {}
    for t in tokenize_text(query, stop):
        counts[t] = counts.get(t, 0) + 1
    return counts
