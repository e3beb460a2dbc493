"""Rocchio relevance feedback (reference O19, lib/src/extensions.dart:22-139).

The expansion operates on ONE query's term weights — tiny data — so it is a
driver-side query rewrite: fetch the few relevant documents' texts with a
doc_id-pushdown scan, re-tokenize (the reference always tokenizes docs with
the main analyzer at build time — extensions.dart:49 uses doc.terms), expand,
then run the expanded query through the normal distributed search path.
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bm25_spark.functions import codec
from bm25_spark.functions.analyzer import tokenize_text
from bm25_spark.operators.indexer import BM25Index
from bm25_spark.operators.packed import query_cache
from bm25_spark.operators.searcher import search

_ROCCHIO_SPLIT = re.compile(r"\W+", re.UNICODE)
MAX_EXPANDED_TERMS = 30


def rocchio_expand(
    query: str,
    relevant_terms: list[list[str]],
    alpha: float = 1.0,
    beta: float = 0.75,
) -> str:
    """Expand ``query`` from relevant documents' token lists.

    Mirrors extensions.dart: per-doc TF normalized by 1/len (:47-55);
    query tokenized with the DIFFERENT \\W+ splitter (:67-71, no stopwords);
    alpha on query terms, beta*tf_norm/found on doc terms (:77-91); top-30
    by weight (:98-99, ties broken by term — reference order unspecified);
    terms repeated clamp(round(1+ln(w)),1,8) times when w>1 (:116-124);
    leftover original terms appended (:127)."""
    relevant: list[tuple[dict[str, int], int]] = []
    for terms in relevant_terms:
        tfm: dict[str, int] = {}
        for t in terms:
            tfm[t] = tfm.get(t, 0) + 1
        relevant.append((tfm, len(terms)))
    return rocchio_expand_counts(query, relevant, alpha, beta)


def rocchio_expand_counts(
    query: str,
    relevant: list[tuple[dict[str, int], int]],
    alpha: float = 1.0,
    beta: float = 0.75,
) -> str:
    """rocchio_expand over (term -> tf, dl) per relevant doc — the shape
    both the docs-table cold path and the warmed-postings fast path
    produce. Per-doc weight contributions are accumulated per OCCURRENCE
    (``tf`` additions of 1/dl, not one ``tf/dl`` multiply), so the float
    sums are bit-identical to iterating the token list as the reference
    does (extensions.dart:47-55). Docs with dl == 0 contribute no terms
    but still count toward ``found`` (extensions.dart counts every doc it
    retrieved)."""
    if not relevant:
        return query
    term_freq: dict[str, float] = {}
    for tfm, dl in relevant:
        if not dl:
            continue
        ln = 1.0 / dl
        for t, tf in tfm.items():
            acc = term_freq.get(t, 0.0)
            for _ in range(tf):
                acc += ln
            term_freq[t] = acc
    found = len(relevant)
    qtoks = [w for w in _ROCCHIO_SPLIT.split(query.lower()) if len(w) >= 2]
    weighted: dict[str, float] = {t: alpha for t in qtoks}
    dn = 1.0 / found
    for t, v in term_freq.items():
        weighted[t] = weighted.get(t, 0.0) + beta * v * dn
    sel = sorted(weighted.items(), key=lambda kv: (-kv[1], kv[0]))[
        :MAX_EXPANDED_TERMS
    ]
    required = set(qtoks)
    expanded: list[str] = []
    for t, w in sel:
        required.discard(t)
        if math.isfinite(w) and w > 1:
            # Dart .round() is half-away-from-zero; w>1 so floor(x+0.5)
            reps = min(8, max(1, math.floor(1 + math.log(w) + 0.5)))
        else:
            reps = 1
        expanded.extend([t] * reps)
    expanded.extend(sorted(required))
    return " ".join(expanded) if expanded else query


def _relevant_term_counts_warm(
    index: BM25Index, doc_ids: list[int]
) -> list[tuple[dict[str, int], int]] | None:
    """(term -> tf, dl) per relevant doc, served from the warmed head's
    blobs with no Spark job. Requires a head warmed with every blob
    (packed.warm_query_caches); returns None otherwise, or when any
    requested id is absent from the postings (an id missing there is
    ambiguous between "nonexistent doc" — which must not count toward
    Rocchio's ``found`` divisor — and "doc whose text is empty/all
    stopwords" — which must; only the docs table decides, on the cold path).

    Cost: postings are doc-sorted and block-indexed, so only the blocks
    whose doc-id range covers a requested id are decoded — O(blobs ×
    |relevant ids|) block probes against RAM-resident blobs, then one
    bulk decode of every covering block. The reconstructed counts are
    exactly the reference's ``doc.terms`` multiset (the index stores
    post-stopword analyzer tokens), so the expansion is identical to
    re-tokenizing the stored text."""
    warm = query_cache(index).warm_blobs()
    if warm is None:
        return None
    wanted = np.unique(np.asarray(doc_ids, dtype=np.int64))
    ssz = index.shard_size
    by_shard = {s: wanted[wanted // ssz == s] for s in set(wanted // ssz)}
    blobs, sels, blob_terms = [], [], []
    for (_pk, term, shard), raw in warm.items():
        w_arr = by_shard.get(shard)
        if w_arr is None:
            continue
        bl = raw[2]  # last doc_id per block
        need = np.unique(np.searchsorted(bl, w_arr, "left"))
        need = need[need < len(bl)]
        if len(need) == 0:
            continue
        blobs.append((raw[1], raw[0], shard * ssz, bl, raw[4]))
        sels.append(need)
        blob_terms.append(term)
    # one bulk decode of every block that covers a requested id
    ids, tfs, dlsa, counts = codec.unpack_blocks_bulk(blobs, sels)
    terms = np.repeat(np.arange(len(blob_terms)), counts)
    hit = np.isin(ids, wanted)
    tfm: dict[int, dict[str, int]] = {}
    dls: dict[int, int] = {}
    for did, ti, tf, dl in zip(
        ids[hit].tolist(), terms[hit].tolist(), tfs[hit].tolist(),
        dlsa[hit].tolist(),
    ):
        tfm.setdefault(did, {})[blob_terms[ti]] = tf
        dls[did] = dl
    if set(tfm) != set(wanted.tolist()):
        return None
    return [(tfm[i], dls[i]) for i in wanted.tolist()]


def search_with_feedback(
    index: BM25Index,
    query: str,
    relevant_doc_ids: list[int] | None = None,
    alpha: float = 1.0,
    beta: float = 0.75,
    limit: int = 10,
) -> DataFrame:
    """Rocchio-expanded search. On a head warmed with its blobs (see
    packed.warm_query_caches) the relevant-doc term reconstruction and
    the expansion run driver-side with no Spark job, and the expanded
    query is a warm ``search`` (no job either); cold indexes pay one
    doc_id-pushdown filter+collect for the relevant texts."""
    if not relevant_doc_ids:
        return search(index, query, limit=limit)
    warm = _relevant_term_counts_warm(index, relevant_doc_ids)
    if warm is not None:
        expanded = rocchio_expand_counts(query, warm, alpha, beta)
        return search(index, expanded, limit=limit)
    rel = (
        index.docs.filter(F.col("doc_id").isin(list(set(relevant_doc_ids))))
        .select("doc_id", index.text_col)
        .collect()
    )
    if not rel:
        return search(index, query, limit=limit)
    # doc_id-sorted accumulation order: float addition is not associative,
    # so the expansion must not depend on Spark's collect order (partition
    # layout) — and the warm path above reconstructs in the same sorted-id
    # order, keeping warm and cold expansions bit-identical
    rel.sort(key=lambda r: r["doc_id"])
    relevant_terms = [
        tokenize_text(r[index.text_col] or "", index.stopwords) for r in rel
    ]
    expanded = rocchio_expand(query, relevant_terms, alpha, beta)
    return search(index, expanded, limit=limit)
