"""Pure-Python oracle for the BM25 engine.

This is a direct, single-process transcription of the reference semantics
(mirkancal/bm25 v2.2.3) documented in SURVEY.md §2.1, used ONLY by tests to
validate the distributed Spark implementation. Semantics cited against the
reference (read-only at /root/reference):

- tokenizer        lib/src/bm25.dart:681-735 (ASCII runs of [a-z0-9_] |
                   unicode \\p{L}[\\p{L}\\p{N}_]*, lowercase, len>=2, stopwords)
- dl / avgdl       lib/src/bm25.dart:424-427, 471 (post-stopword token count)
- idf              lib/src/bm25.dart:465-466  ln((N-df+0.5)/(df+0.5)+1)
- score            lib/src/bm25.dart:632-651  sum over query tokens WITH
                   multiplicity of idf*tf*(k1+1)/(tf+k1*norm), k1=1.2 b=0.75
- filter           lib/src/bm25.dart:603-629  union within field,
                   intersection across fields, missing field never matches
- top-k            lib/src/bm25.dart:737-798  score desc; reference tie order
                   is unspecified -> we break ties by doc_id asc
- partitioned      lib/src/partitioned_bm25.dart (per-partition stats; the
                   searchMany per-partition default-limit-10 quirk :143-153)
- Rocchio          lib/src/extensions.dart:22-139

Validated against the reference's published example output
(example/bm25_example.dart:31-46) in tests/test_oracle.py.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

K1 = 1.2
B = 0.75

_ASCII_WORD = re.compile(r"[A-Za-z0-9_]+")
# Python equivalent of Dart's unicode \p{L}[\p{L}\p{N}_]* :
# [^\W\d_] == "word char that is not a digit or underscore" == letter.
_UNICODE_WORD = re.compile(r"[^\W\d_]\w*", re.UNICODE)
# Rocchio query tokenizer is DIFFERENT (extensions.dart:67-71): \W+ split.
_ROCCHIO_SPLIT = re.compile(r"\W+", re.UNICODE)


def tokenize(text: str, stopwords: set[str] | None = None) -> list[str]:
    """Reference tokenizer: ASCII fast path (runs of [a-z0-9_], may start
    with digit/underscore) vs unicode path (must start with a letter);
    lowercase; drop tokens shorter than 2 chars; drop stopwords."""
    if text is None:
        return []
    if text.isascii():
        words = _ASCII_WORD.findall(text)
        out = []
        for w in words:
            w = w.lower()
            if len(w) >= 2 and (stopwords is None or w not in stopwords):
                out.append(w)
        return out
    out = []
    for m in _UNICODE_WORD.finditer(text.lower()):
        w = m.group(0)
        if len(w) >= 2 and (stopwords is None or w not in stopwords):
            out.append(w)
    return out


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


@dataclass
class OracleDoc:
    doc_id: int
    text: str
    terms: list[str]
    meta: dict[str, object] = field(default_factory=dict)


class OracleBM25:
    """In-memory reference engine (tests only — NOT the Spark path)."""

    def __init__(
        self,
        texts: list[str] | list[tuple[str, dict]],
        stopwords: set[str] | None = None,
        index_fields: list[str] | None = None,
        k1: float = K1,
        b: float = B,
    ):
        if not texts:
            raise ValueError("empty corpus")
        self.k1, self.b = k1, b
        self.stopwords = stopwords
        self.index_fields = list(index_fields or [])
        self.docs: list[OracleDoc] = []
        for i, t in enumerate(texts):
            if isinstance(t, tuple):
                text, meta = t
            else:
                text, meta = t, {}
            self.docs.append(OracleDoc(i, text, tokenize(text, stopwords), meta))

        n = len(self.docs)
        self.dl = [len(d.terms) for d in self.docs]
        self.avgdl = sum(self.dl) / n if n else 0.0
        # term -> {doc_id: tf}, doc-sorted
        tf_map: dict[str, dict[int, int]] = {}
        for d in self.docs:
            for t in d.terms:
                tf_map.setdefault(t, {}).setdefault(d.doc_id, 0)
                tf_map[t][d.doc_id] += 1
        self.term_docs = {
            t: sorted(m.items()) for t, m in tf_map.items()
        }
        self.idf = {t: idf(n, len(m)) for t, m in tf_map.items()}
        # field -> value(str) -> set(doc_id); list-valued meta indexed per elem
        self.field_index: dict[str, dict[str, set[int]]] = {}
        for f in self.index_fields:
            fi: dict[str, set[int]] = {}
            for d in self.docs:
                if f not in d.meta or d.meta[f] is None:
                    continue
                v = d.meta[f]
                vals = v if isinstance(v, (list, tuple)) else [v]
                for item in vals:
                    fi.setdefault(_meta_str(item), set()).add(d.doc_id)
            self.field_index[f] = fi

    def _norm(self, doc_id: int) -> float:
        return (1 - self.b) + self.b * self.dl[doc_id] / self.avgdl

    def _allowed(self, flt: dict[str, object] | None) -> set[int] | None:
        if not flt:
            return None
        allowed: set[int] | None = None
        for f, v in flt.items():
            if f not in self.field_index:
                raise ValueError(f"field {f!r} not indexed")
            vals = v if isinstance(v, (list, tuple)) else [v]
            field_docs: set[int] = set()
            for item in vals:
                field_docs |= self.field_index[f].get(_meta_str(item), set())
            allowed = field_docs if allowed is None else (allowed & field_docs)
            if not allowed:
                return set()
        return allowed

    def search(
        self,
        query: str,
        limit: int = 10,
        flt: dict[str, object] | None = None,
        stopwords: set[str] | None = None,
    ) -> list[tuple[int, float]]:
        if limit < 1:
            raise ValueError("limit must be >= 1")
        toks = tokenize(query, stopwords if stopwords is not None else self.stopwords)
        if not toks:
            return []
        allowed = self._allowed(flt)
        if allowed is not None and not allowed:
            return []
        scores: dict[int, float] = {}
        for t in toks:  # with multiplicity — reference bm25.dart:635
            if t not in self.term_docs:
                continue
            w = self.idf[t]
            for doc_id, tf in self.term_docs[t]:
                if allowed is not None and doc_id not in allowed:
                    continue
                scores[doc_id] = scores.get(doc_id, 0.0) + w * tf * (
                    self.k1 + 1
                ) / (tf + self.k1 * self._norm(doc_id))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:limit]

    # Rocchio relevance feedback — extensions.dart:22-139
    def search_with_feedback(
        self,
        query: str,
        relevant_doc_ids: list[int] | None = None,
        alpha: float = 1.0,
        beta: float = 0.75,
        limit: int = 10,
    ) -> list[tuple[int, float]]:
        expanded = self.expand_query(query, relevant_doc_ids, alpha, beta)
        return self.search(expanded, limit)

    def expand_query(
        self,
        query: str,
        relevant_doc_ids: list[int] | None,
        alpha: float = 1.0,
        beta: float = 0.75,
    ) -> str:
        if not relevant_doc_ids:
            return query
        rel = set(relevant_doc_ids)
        term_freq: dict[str, float] = {}
        found = 0
        for d in self.docs:  # ordered scan, extensions.dart:42-59
            if d.doc_id not in rel:
                continue
            found += 1
            ln = 0.0 if not d.terms else 1.0 / len(d.terms)
            for t in d.terms:
                term_freq[t] = term_freq.get(t, 0.0) + ln
            if found == len(rel):
                break
        if found == 0:
            return query
        # Different tokenizer than search: lower().split(\W+), len>=2, no stops
        qtoks = [w for w in _ROCCHIO_SPLIT.split(query.lower()) if len(w) >= 2]
        weighted: dict[str, float] = {t: alpha for t in qtoks}
        dn = 1.0 / found
        for t, v in term_freq.items():
            weighted[t] = weighted.get(t, 0.0) + beta * v * dn
        # top 30 by weight; reference tie order unspecified -> term asc
        sel = sorted(weighted.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
        required = set(qtoks)
        expanded: list[str] = []
        for t, w in sel:
            required.discard(t)
            if math.isfinite(w) and w > 1:
                # Dart .round() = half away from zero; w>1 so floor(x+0.5)
                reps = min(8, max(1, math.floor(1 + math.log(w) + 0.5)))
            else:
                reps = 1
            expanded.extend([t] * reps)
        expanded.extend(sorted(required))
        if not expanded:
            return query
        return " ".join(expanded)


class OraclePartitionedBM25:
    """Per-partition independent indices — partitioned_bm25.dart."""

    def __init__(
        self,
        docs: list[tuple[str, dict]],
        partition_by,
        stopwords: set[str] | None = None,
        index_fields: list[str] | None = None,
    ):
        groups: dict[str, list[tuple[str, dict]]] = {}
        self.global_ids: dict[str, list[int]] = {}
        for i, (text, meta) in enumerate(docs):
            k = partition_by(text, meta)
            groups.setdefault(k, []).append((text, meta))
            self.global_ids.setdefault(k, []).append(i)
        self.parts = {
            k: OracleBM25(v, stopwords, index_fields) for k, v in groups.items()
        }

    def search_in(self, key: str, query: str, limit: int = 10):
        if key not in self.parts:
            return []
        res = self.parts[key].search(query, limit)
        return [(self.global_ids[key][d], s) for d, s in res]

    def search_many(self, keys: list[str], query: str, limit: int = 10):
        # quirk: inner searches use DEFAULT limit 10 (partitioned_bm25.dart:145)
        out: list[tuple[int, float]] = []
        for k in keys:
            out.extend(self.search_in(k, query, 10))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out[:limit]


def _meta_str(v: object) -> str:
    # Dart stringifies meta values via toString(); match bool/num formatting
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return f"{v:.1f}"  # Dart double 3.0 -> "3.0"
    return str(v)
