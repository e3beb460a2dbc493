"""Packed physical index: delta+varint postings blobs + block-max metadata,
and the scoring paths over them.

Why this layout scales (the reference's flat Uint32List postings,
lib/src/bm25.dart:437-468, re-thought for a 1000-executor cluster):

- one row per (pk, term, shard): a Zipf-hot term is split across doc-range
  shards, so no single row explodes; parquet/Iceberg min-max + bloom on
  ``term`` prune the scan to exactly the query's rows;
- a doc's postings for ALL query terms live in the same shard (shards are
  contiguous doc_id ranges), so per-(query, pk, shard) scoring is complete
  and a per-shard top-k merges into an EXACT global top-k — the distributed
  analog of the reference's single-threaded bounded heap (bm25.dart:744-790);
- scoring is pure numpy over Arrow batches in ONE kernel, ``score_shard``,
  that both strategies below feed: per query batch and shard, each block
  varint-decoded once in bulk, one np.bincount per query chunk over
  (query, doc) cells (dense or sorted-sparse, by the measured work), a
  vectorized top-k (or block-max WAND for a single query over long
  lists). No per-row
  Python, no JVM<->Python chatter beyond the ≤|q| blobs/shard.

Two physical strategies, chosen per query:

1. **Driver path** (interactive): when the candidate volume (Σ df over the
   query's terms) is small enough to fetch, the driver probes the term
   dictionary (cached), applies SHARD-LEVEL BLOCK-MAX PRUNING — shards whose
   score upper bound ub(shard) = Σ_t qtf·idf_t·max_b block_max(t, shard, b)
   cannot beat the running k-th score are never fetched nor decoded (the
   WAND bound at shard granularity; safe ⇒ exact top-k) — and runs the
   kernel on the surviving shards in-process, carrying each query's running
   top-k from shard to shard. This is what a search head does; Spark serves
   as the index store (predicate pushdown on term reads only those rows).
2. **Cluster path** (batch / huge postings): ship blobs to executors,
   score per (pk, shard) group in a vectorized applyInPandas — ALL queries
   in the batch are scored inside one pass over each shard's blobs (the
   query plan is tiny and travels in the UDF closure), so a hot Zipf term's
   blob crosses the shuffle ONCE, not once per query. When the index has
   fewer shard groups than the cluster has slots, the query side is split
   into a bounded number of buckets (blob replication = min(buckets,
   queries-that-use-the-term), chosen at plan time — never Q). Per-shard
   top-k merges globally. The (pk, shard, bucket) groups are dealt
   round-robin to at most one Python task per core (an explicit-count
   partitioning that AQE cannot coalesce: the blob shuffle is small, the
   Python scoring behind it is not, and each Python task pays a fixed
   start-up cost), and each group makes ONE kernel call for all the
   bucket's queries: each block decoded once, shared by every query
   using its term. Metadata filters become a doc-id mask INSIDE the
   kernel (reference semantics: filtered docs skipped during traversal,
   bm25.dart:644).

Every term probe (dictionary, shard metadata, blob fetch, cluster scan) is
one parsed ``term IN (...)`` predicate (``_in_list``): plan building costs
the same few JVM calls whatever the number of query terms, and the
predicate still pushes into the parquet scan.
"""

from __future__ import annotations

import functools
import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bm25_spark.functions import codec
from bm25_spark.functions.analyzer import query_term_counts
from bm25_spark.operators.indexer import BM25Index
from bm25_spark.operators.searcher import (
    RESULT_SCHEMA,
    _filter_predicate,
    empty_result,
)

# Above this many candidate postings the driver path would pull too much —
# score on the cluster instead.
DRIVER_PATH_MAX_POSTINGS = 20_000_000
# The blob FETCH is shared across a batch's queries, but driver SCORING is
# per-query single-threaded WAND — a batch of Q hot queries costs
# ~Σ_q Σ_{t∈q} df(t) score-visits even when every blob is cached. Bound
# that work independently of the fetch bound, or a large-Q batch of hot
# terms silently serializes on the driver while 4N executors idle.
# ~100M visits ≈ 1 s of driver numpy at 2026 single-core speed — the
# measured floor of one cluster batch job; past it the cluster path wins.
# Overridable for experiments.
DRIVER_PATH_MAX_WORK = int(
    os.environ.get("BM25_DRIVER_PATH_MAX_WORK", "100000000")
)
# Metadata filters: the driver path materializes the allowed doc-id set
# locally only below this cardinality; bigger filters score on the cluster.
DRIVER_PATH_MAX_ALLOWED = 2_000_000
# Resident bytes (_entry_bytes) one index's QueryCache may hold: the
# preloaded levels and everything filled lazily, together.
CACHE_BYTES = 4 << 30


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def _in_list(col: str, values) -> Column:
    """``col IN (values)`` for the query-path probes, built as ONE parsed
    expression: one JVM call, where ``Column.isin(list)`` creates one JVM
    literal per value (~1 s of Py4J round trips for a 1000-term batch).
    Strings become escaped SQL literals and ints integer literals; the
    optimizer sees the same ``In`` (or ``InSet``) and pushes it into the
    parquet scan as ``In(col, [...])``."""
    if not values:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(map(_sql_literal, values))})")


def _qrows(index: BM25Index, queries, stopwords):
    stop = stopwords if stopwords is not None else index.stopwords
    out = []
    for qid, qtext in queries:
        for term, qtf in query_term_counts(qtext, stop).items():
            out.append((qid, term, qtf))
    return out


# ---------------------------------------------------------------------------
# Driver fast path
# ---------------------------------------------------------------------------


# sys.getsizeof of the entry slot in one of QueryCache's dicts: at most 60
# amortized on CPython 3.11 for any key type (dicts grown key by key).
_SLOT = 64
_ARRAY_HEAD = sys.getsizeof(np.empty(0))  # an ndarray's header, data aside
# a str's sys.getsizeof beyond ""'s, with at most 4 bytes a char
_STR_WIDE = sys.getsizeof("\U0001f600") - 4 - sys.getsizeof("")


def _nbytes(obj) -> int:
    """Resident bytes of a cache key or value by sys.getsizeof: containers
    with their items (dict keys included), an ndarray as header plus data;
    an object referenced twice counts twice (exact types, most frequent
    first: a warm recount visits every entry)."""
    t = type(obj)
    if t is tuple or t is list:
        return sys.getsizeof(obj) + sum(map(_nbytes, obj))
    if t is dict:
        return (
            sys.getsizeof(obj)
            + sum(map(_nbytes, obj))
            + sum(map(_nbytes, obj.values()))
        )
    if t is np.ndarray:
        return _ARRAY_HEAD + obj.nbytes
    return sys.getsizeof(obj)


def _entry_bytes(key, value) -> int:
    """What one entry of a QueryCache dict keeps resident."""
    return _SLOT + _nbytes(key) + _nbytes(value)


class QueryCache:
    """The driver's query state for one index (``query_cache``): ``nbytes``
    resident bytes (``_entry_bytes``) in all, at most CACHE_BYTES.
    ``warm_query_caches`` preloads whole levels, complete (a term the
    dictionary lacks is not in the index) and never evicted: the
    dictionary (terms, shard metadata, stats), then the blobs. The rest
    is filled lazily through ``put``; an insert that would pass the budget
    first drops all of it together, and an entry that still does not fit
    is served uncached."""

    def __init__(self):
        self.terms: dict = {}  # term -> {pk: (idf, df)}
        self.shards: dict = {}  # term -> {pk: [(shard, n, max block_max)]}
        # None -> {pk: (n_docs, avgdl)} of every pk; pk -> (n_docs, avgdl),
        # or None for a pk the stats table lacks
        self.stats: dict = {}
        self.blobs: dict = {}  # (pk, term, shard) -> _raw_blob tuple
        self.allowed: dict = {}  # canonical filter -> {pk: sorted doc ids}
        self.dict_complete = self.blobs_complete = False
        self.nbytes = self.preloaded = 0

    def put(self, part: str, key, value) -> None:
        """Cache a lazily-filled entry of ``part`` (one of the dicts above)."""
        if key in getattr(self, part):
            return
        n = _entry_bytes(key, value)
        if self.nbytes + n > CACHE_BYTES:
            self.allowed = {}
            if not self.dict_complete:
                self.terms, self.shards, self.stats = {}, {}, {}
            if not self.blobs_complete:
                self.blobs = {}
            self.nbytes = self.preloaded
        if self.nbytes + n <= CACHE_BYTES:
            getattr(self, part)[key] = value
            self.nbytes += n

    def recount(self) -> int:
        """``_entry_bytes`` of every entry, counted afresh."""
        parts = (self.terms, self.shards, self.stats, self.blobs, self.allowed)
        return sum(_entry_bytes(k, v) for d in parts for k, v in d.items())

    def warm_blobs(self) -> dict | None:
        """(pk, term, shard) -> raw blob of EVERY packed row once
        ``warm_query_caches`` preloaded them, else None."""
        return self.blobs if self.blobs_complete else None


def query_cache(index: BM25Index) -> QueryCache:
    """The index's query cache (BM25Index.invalidate_caches drops it)."""
    return index.__dict__.setdefault("_query_cache", QueryCache())


def warm_query_caches(index: BM25Index) -> bool:
    """Replace the index's query cache with a preload, as a search head
    does at start-up: the term dictionary with shard metadata and stats,
    then the blobs, each level only when an upper bound of its resident
    bytes fits CACHE_BYTES. The collects hold their rows on the driver
    while a level is filed, on top of the bytes counted. On a head warmed
    with its blobs, ``search_batch`` probes, prunes, decodes and scores
    in-process with ZERO Spark jobs, and so do ``search``, ``search_in``
    and ``search_many``. Returns False, loading nothing, when the
    dictionary does not fit: lazy term-pushdown probes are the scale path."""
    # per packed row, in _entry_bytes: the dictionary level as if the row
    # held a term and a pk of its own in ``terms`` and in ``shards`` (every
    # (pk, term) has a packed row), the blob level its blob exactly; the
    # strings are counted at "" plus 4 bytes a char
    meta_row = _entry_bytes("", {"": (0.0, 1 << 62)}) + _entry_bytes(
        "", {"": [(1 << 30, 1 << 62, 0.0)]}
    )
    blob_row = _entry_bytes(("", "", 1 << 30), _raw_blob(1 << 62, b"", [], [], []))
    strs = f"{2 * _STR_WIDE} + 4 * (length(term) + length(pk))"
    size = index.packed.selectExpr(
        f"sum({meta_row} + 2 * ({strs})) AS meta",
        f"sum({blob_row} + {strs} + length(data) + 24 * size(block_last))"
        " AS blobs",
    ).first()
    cache = QueryCache()
    cache.stats[None] = _stats_map(index, None)
    meta = _entry_bytes(None, cache.stats[None]) + (size["meta"] or 0)
    if meta > CACHE_BYTES:
        return False
    cache.blobs_complete = meta + (size["blobs"] or 0) <= CACHE_BYTES
    for r in index.terms.select("pk", "term", "idf", "df").collect():
        _add_term_meta(cache.terms.setdefault(r["term"], {}), r)
    cols = ["pk", "term", "shard", "n", _shard_ub()]
    if cache.blobs_complete:
        cols += ["data", "block_last", "block_max", "block_off"]
    for r in index.packed.select(*cols).collect():
        _add_shard_meta(cache.shards.setdefault(r["term"], {}), r)
        if cache.blobs_complete:
            key = (r["pk"], r["term"], int(r["shard"]))
            cache.blobs[key] = _raw_blob(*(r[c] for c in _BLOB_COLS))
    cache.dict_complete = True
    cache.nbytes = cache.preloaded = cache.recount()
    index.__dict__["_query_cache"] = cache
    return True


def _stats_map(index: BM25Index, partition_keys) -> dict:
    """pk -> (n_docs, avgdl) of the ``partition_keys`` the stats table has
    (every pk when None), cached: the whole table as one entry, or the
    given pks collected with pk pushed down, one entry each."""
    cache = query_cache(index)
    got = cache.stats.get(None)
    if got is not None:
        return got
    if partition_keys is None:
        got = {r["pk"]: (r["n_docs"], r["avgdl"]) for r in index.stats.collect()}
        cache.put("stats", None, got)
        return got
    got = {k: cache.stats[k] for k in partition_keys if k in cache.stats}
    missing = [k for k in partition_keys if k not in got]
    if missing:
        got.update(dict.fromkeys(missing))
        for r in index.stats.filter(F.col("pk").isin(missing)).collect():
            got[r["pk"]] = (r["n_docs"], r["avgdl"])
        for k in missing:
            cache.put("stats", k, got[k])
    return {k: st for k, st in got.items() if st is not None}


def _add_term_meta(by_pk: dict, r) -> None:
    by_pk[r["pk"]] = (float(r["idf"]), int(r["df"]))


def _shard_ub() -> Column:
    """A packed row's max block_max, computed where the row is read."""
    return F.array_max("block_max").alias("ub")


def _add_shard_meta(by_pk: dict, r) -> None:
    by_pk.setdefault(r["pk"], []).append(
        (int(r["shard"]), int(r["n"]), float(r["ub"]))
    )


def _probed(index, part, table, cols, add, terms_needed, partition_keys):
    """{(pk, term): value} for ``terms_needed`` within ``partition_keys``
    from the cache's term -> {pk: value} ``part``; what it lacks is probed
    with ONE ``term IN (...)`` scan of ``table`` (none once the dictionary
    is complete), rows filed by ``add``, a term not found cached empty."""
    cache = query_cache(index)
    have = getattr(cache, part)
    got = {t: have[t] for t in terms_needed if t in have}
    missing = [t for t in terms_needed if t not in got]
    if missing and not cache.dict_complete:
        probed = {t: {} for t in missing}
        rows = table.filter(_in_list("term", missing)).select("pk", "term", *cols)
        for r in rows.collect():
            add(probed[r["term"]], r)
        for t, by_pk in probed.items():
            cache.put(part, t, by_pk)
        got.update(probed)
    return {
        (pk, t): v
        for t in terms_needed
        for pk, v in got.get(t, {}).items()
        if partition_keys is None or pk in partition_keys
    }


def _term_meta(index: BM25Index, terms_needed, partition_keys):
    """(pk, term) -> (idf, df): the reference's dictionary probe
    (bm25.dart:637), cached."""
    return _probed(
        index, "terms", index.terms, ("idf", "df"),
        _add_term_meta, terms_needed, partition_keys,
    )


def _shard_meta(index: BM25Index, terms_needed, partition_keys):
    """(pk, term) -> [(shard, n, max block_max over the shard)], cached."""
    return _probed(
        index, "shards", index.packed, ("shard", "n", _shard_ub()),
        _add_shard_meta, terms_needed, partition_keys,
    )


_BLOB_COLS = ("n", "data", "block_last", "block_max", "block_off")


def _raw_blob(n, data, block_last, block_max, block_off) -> tuple:
    """One packed row's _BLOB_COLS -> the raw blob tuple every scorer
    reads: (n, data, block_last, block_max, block_off)."""
    return (
        int(n),
        bytes(data),
        np.asarray(block_last, dtype=np.int64),
        np.asarray(block_max, dtype=np.float64),
        np.asarray(block_off, dtype=np.int64),
    )


def _fetch_raw_blobs(index: BM25Index, wanted: set[tuple[str, str, int]]) -> dict:
    """(pk, term, shard) -> raw blob for the ``wanted`` keys, from the
    cache; the ones it lacks are fetched with ONE pruned Spark collect and
    cached. ``score_shard`` decodes only the blocks pruning keeps."""
    cache = query_cache(index)
    got = {k: cache.blobs[k] for k in wanted if k in cache.blobs}
    missing = [k for k in wanted if k not in got]
    if missing:
        terms_m = sorted({t for _, t, _ in missing})
        pks_m = sorted({p for p, _, _ in missing})
        shards_m = sorted({s for _, _, s in missing})
        rows = (
            index.packed.filter(
                _in_list("term", terms_m)
                & _in_list("pk", pks_m)
                # shard predicate: ub-ordered fetch waves (see _driver_topk)
                # must not drag in every shard of a term the moment one
                # shard of it is wanted — bytes collected track the WAND
                # frontier, not the whole term
                & _in_list("shard", shards_m)
            )
            .select("pk", "term", "shard", *_BLOB_COLS)
            .collect()
        )
        for r in rows:
            key = (r["pk"], r["term"], int(r["shard"]))
            got[key] = _raw_blob(*(r[c] for c in _BLOB_COLS))
            cache.put("blobs", key, got[key])
    return got


def _in_sorted(allow: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Membership of ``ids`` in the sorted array ``allow``."""
    pos = np.searchsorted(allow, ids).clip(max=len(allow) - 1)
    return allow[pos] == ids


# segments scored between two theta updates in score_shard's pruned mode
_SEG_CHUNK = 64
# memory of one step of score_shard's batch mode: a query chunk (its
# accumulator, the accumulator's partition copy, _PAIR_WORDS 8-byte
# temporaries per (query, posting) pair: cell keys, weights, sorts) or a
# slice of the batch's block decode (~160 transient bytes per posting)
_CHUNK_BYTES = 32 << 20
_PAIR_WORDS = 16
# dense (query x span) accumulator iff its cells <= _DENSE_RATIO x pairs,
# else sorted sparse cells: 8 picked the faster of the two at every shard
# span and query mix tools/kernel_span.py was run on (BENCH_NOTES.md)
_DENSE_RATIO = 8


def _rank_cut(slot, ids, scores, k):
    """Rows ordered by (slot, score desc, doc_id asc), at most k per slot:
    the exact top-k with the global tie-break, so an equal-scored doc at the
    k boundary is never dropped by an order-agnostic partition."""
    order = np.lexsort((ids, -scores, slot))
    slot, ids, scores = slot[order], ids[order], scores[order]
    keep = np.arange(len(slot)) - np.searchsorted(slot, slot) < k
    return slot[keep], ids[keep], scores[keep]


def score_shard(
    queries: list[list[tuple]],
    blobs,
    shard_base: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    mask=None,
    top_buf: np.ndarray | None = None,
    prune: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact BM25 top-``k`` of a batch of queries over one shard — the one
    scoring kernel of the driver and the cluster path.

    ``queries``: per query, its (w = qtf*idf, key) terms present in the
    shard, in query-term order; ``blobs[key]``: raw blob (n, data,
    block_last, block_max, block_off). ``mask(ids)``: bool keep-mask of
    filter-allowed docs (None = all; skipping them during traversal,
    bm25.dart:644, leaves the upper bounds valid). ``top_buf``: a single
    query's running top-k scores (the driver carries it across shards).
    Returns (slot, doc_ids, scores): each query's top-k in this shard,
    ordered by (slot, score desc, doc_id asc).

    Impacts are computed once per decoded posting and scaled by w per
    (query, term); the (query, doc) sums are one np.bincount over a
    (query, doc) cell stream fed query-major in query-term order, dense or
    over the sorted unique cells — the same additions in the same order
    either way, so every mode and both paths are bit-identical.

    **Batch mode**: every block of the batch's blobs is decoded ONCE (one
    bulk decode per _CHUNK_BYTES slice of blocks), however many queries
    use it. Queries are then scored in chunks of about _CHUNK_BYTES, each
    with one accumulator: dense (query x span) when the batch's Q x span
    cells are at most _DENSE_RATIO x its (query, posting) pairs, sparse
    (sorted cells) otherwise, so a wide shard costs the pairs, not
    Q x span. Peak memory: 16 bytes (id, impact) per decoded posting,
    held for the call, plus about _CHUNK_BYTES for the step in progress
    (``tools/kernel_span.py`` measures both).

    **Pruned mode** (``prune``, one query, more than one block of
    postings): block-max WAND. The terms' block_last boundaries cut the
    shard into segments, each covered by one block per term, scored in
    upper-bound order, _SEG_CHUNK per bulk decode; once the top-k is full,
    a segment whose summed block maxima cannot reach theta is skipped (a
    block all of whose segments are skipped is never decoded) and the
    first dead chunk ends the shard. Exact: the maxima are true bounds in
    the scores' float association, pruning is strict ('< theta'), and a
    kept doc has all its blocks decoded. A batch does not prune: on
    400-query batches the batch mode beat per-query WAND at every shard
    span measured, up to 1<<20 docs (BENCH_NOTES.md, "Shard kernel")."""
    keys = list(dict.fromkeys(key for q in queries for _, key in q))
    if not keys:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    raws = [blobs[key] for key in keys]
    kpos = {key: i for i, key in enumerate(keys)}
    # one (query slot, blob, w) row per query term, query-major
    q_slot, q_blob, q_w = (
        np.array(col)
        for col in zip(
            *[(j, kpos[key], w) for j, q in enumerate(queries) for w, key in q]
        )
    )
    span = 1 + max(int(r[2][-1]) for r in raws) - shard_base

    def impacts(sels, keep=None):
        """(postings per blob, doc ids, impacts) of the selected blocks,
        blob after blob (``keep(ids)``: the postings to use)."""
        ids, tfs, dls, counts = codec.unpack_blocks_bulk(
            [(r[1], r[0], shard_base, r[2], r[4]) for r in raws], sels
        )
        keep = np.ones(len(ids), bool) if keep is None else keep(ids)
        if mask is not None:
            keep &= mask(ids)
        counts = np.bincount(
            np.repeat(np.arange(len(raws)), counts)[keep], minlength=len(raws)
        )
        ids, tfs = ids[keep], tfs[keep].astype(np.float64)
        norm = (1.0 - b) + b * dls[keep].astype(np.float64) / avgdl
        # computed EXACTLY as codec.pack_postings computes block_max, then
        # scaled by w = qtf*idf as the bounds are: IEEE rounding is
        # monotonic, so score <= bound holds in floats (another association
        # can put a score 1 ulp above its bound and mask a tied doc)
        return counts, ids, tfs * (k1 + 1.0) / (tfs + k1 * norm)

    def topk(rows, counts, ids, imp, dense):
        """Per-query top-k (slot, doc, score) of the query-term ``rows`` (a
        query-major slice) over decoded postings (``counts`` per blob)."""
        lo, hi = q_slot[rows][0], q_slot[rows][-1] + 1
        n_r = counts[q_blob[rows]]
        skip = (np.cumsum(counts) - counts)[q_blob[rows]] - np.cumsum(n_r) + n_r
        # posting index of every (query, term, posting), query-major
        src = np.arange(n_r.sum()) + np.repeat(skip, n_r)
        cell = np.repeat(q_slot[rows] - lo, n_r) * span + (ids[src] - shard_base)
        weights = np.repeat(q_w[rows], n_r) * imp[src]
        if dense:
            acc = np.bincount(cell, weights, (hi - lo) * span).reshape(-1, span)
            # every weight is > 0: touched cells are the nonzero ones
            # (reference's sparse `touched`, bm25.dart:633)
            cand = acc > 0
            if span > k:
                cand &= acc >= np.partition(acc, span - k, axis=1)[:, [span - k]]
            cell = np.flatnonzero(cand)
            scores = acc.ravel()[cell]
        else:
            cell, inv = np.unique(cell, return_inverse=True)
            scores = np.bincount(inv, weights)
        slot, doc = np.divmod(cell, span)
        return _rank_cut(slot + lo, doc + shard_base, scores, k)

    n_post = np.array([r[0] for r in raws])
    if prune and len(queries) == 1 and n_post.sum() > codec.BLOCK:
        bounds = np.unique(np.concatenate([r[2] for r in raws]))
        seg_ub = np.zeros(len(bounds))
        covers = []
        for w, (_n, _data, bl, bm, _off) in zip(q_w, raws):
            ci = np.searchsorted(bl, bounds)
            valid = ci < len(bl)
            seg_ub[valid] += w * bm[ci[valid]]
            covers.append((ci, valid))
        order = np.argsort(-seg_ub, kind="stable")
        buf = np.empty(0) if top_buf is None else top_buf
        kept_ids, kept_scores = [np.empty(0, np.int64)], [np.empty(0)]
        for pos in range(0, len(bounds), _SEG_CHUNK):
            chunk = order[pos : pos + _SEG_CHUNK]
            if len(buf) >= k:
                chunk = chunk[seg_ub[chunk] >= buf.min()]
                if len(chunk) == 0:
                    break  # order is ub-descending: the rest is dead too
            sel = np.zeros(len(bounds), dtype=bool)
            sel[chunk] = True
            counts, ids, imp = impacts(
                [np.unique(ci[sel & valid]) for ci, valid in covers],
                lambda ids: sel[np.searchsorted(bounds, ids)],
            )
            dense = span <= _DENSE_RATIO * counts.sum()
            _, ids, scores = topk(slice(None), counts, ids, imp, dense)
            kept_ids.append(ids)
            kept_scores.append(scores)
            buf = np.concatenate((buf, scores))
            if len(buf) > k:
                buf = np.partition(buf, -k)[-k:]
        ids = np.concatenate(kept_ids)
        return _rank_cut(
            np.zeros(len(ids), np.int64), ids, np.concatenate(kept_scores), k
        )

    # every block of every blob, decoded once in slices of `step` blocks
    nblk = [len(r[2]) for r in raws]
    first, step = np.cumsum(nblk) - nblk, _CHUNK_BYTES // (160 * codec.BLOCK)
    ids, imp = np.empty(n_post.sum(), np.int64), np.empty(n_post.sum())
    counts, fill = 0, 0
    for g0 in range(0, sum(nblk), step):
        c, ids_s, imp_s = impacts(
            [
                np.arange(max(g0 - f, 0), min(g0 + step - f, nb))
                for f, nb in zip(first.tolist(), nblk)
            ]
        )
        counts, end = counts + c, fill + len(ids_s)
        ids[fill:end], imp[fill:end], fill = ids_s, imp_s, end
    ids, imp = ids[:fill], imp[:fill]

    # query chunks of about _CHUNK_BYTES each
    pairs = np.bincount(q_slot, counts[q_blob], len(queries))
    dense = len(queries) * span <= _DENSE_RATIO * pairs.sum()
    words = _PAIR_WORDS * pairs + (3 * span if dense else 0)
    piece = (np.cumsum(words) - words) // (_CHUNK_BYTES // 8)
    cuts = [0, *(np.flatnonzero(np.diff(piece)) + 1).tolist(), len(queries)]
    out = [], [], []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        r0, r1 = np.searchsorted(q_slot, [lo, hi])
        if r0 < r1:
            for o, part in zip(out, topk(slice(r0, r1), counts, ids, imp, dense)):
                o.append(part)
    return tuple(np.concatenate(o) for o in out)


def _driver_topk(
    index: BM25Index,
    qrows,
    limit: int,
    partition_keys,
    per_partition_limit,
    prune: bool = True,
    allowed_by_pk: dict[str, np.ndarray] | None = None,
) -> list[tuple]:
    """Exact top-k on the driver: shard-level block-max pruning around the
    ``score_shard`` kernel. Pruning applies to the FETCH as well as the
    decode: blobs are pulled in ub-descending geometric waves, so a shard
    theta rules out never crosses the wire. Returns result tuples
    (query_id, pk, doc_id, score, rank)."""
    terms_needed = sorted({t for _, t, _ in qrows})
    tmeta = _term_meta(index, terms_needed, partition_keys)
    smeta = _shard_meta(index, terms_needed, partition_keys)
    stats = _stats_map(index, partition_keys)

    by_query: dict[int, list[tuple[str, int]]] = {}
    for qid, term, qtf in qrows:
        by_query.setdefault(qid, []).append((term, qtf))

    # Blobs are fetched LAZILY in shard-upper-bound order (geometric waves
    # inside the per-pk loop below): once theta rules a shard out, its blob
    # is never collected at all — fetch bytes track the WAND frontier, not
    # Σ df. A head warmed with its blobs skips fetching entirely; blobs
    # shared across the batch's queries are fetched once.
    warm = query_cache(index).warm_blobs()
    blobs = {} if warm is None else warm
    k_eff = per_partition_limit or limit

    results: list[tuple] = []
    for qid, tq in sorted(by_query.items()):
        # per pk: candidate shards with upper bounds
        pks = sorted(
            {pk for (pk, t) in tmeta if any(t == tt for tt, _ in tq)}
        )
        per_pk: list[tuple[str, np.ndarray, np.ndarray]] = []
        for pk in pks:
            st = stats.get(pk)
            if st is None:
                continue
            mask = None
            if allowed_by_pk is not None:
                allow = allowed_by_pk.get(pk)
                if allow is None or len(allow) == 0:
                    continue
                mask = functools.partial(_in_sorted, allow)
            # shard -> ub accumulation over query terms (with multiplicity)
            shard_ub: dict[int, float] = {}
            shard_terms: dict[int, list[tuple[str, float]]] = {}
            for term, qtf in tq:
                meta = tmeta.get((pk, term))
                if meta is None:
                    continue
                w = qtf * meta[0]
                for shard, n, ub_partial in smeta.get((pk, term), ()):
                    shard_ub[shard] = shard_ub.get(shard, 0.0) + w * ub_partial
                    shard_terms.setdefault(shard, []).append((term, w))
            if not shard_ub:
                continue
            # shard-level WAND (the block level runs inside score_shard):
            # visit shards in ub-descending order; stop when the running
            # k-th score strictly beats a shard's bound (this shard and all
            # remaining are never fetched nor decoded)
            order = sorted(shard_ub, key=lambda s: -shard_ub[s])
            # the pk's running top-k, by (score desc, doc_id asc)
            ids_k, top_buf = np.empty(0, np.int64), np.empty(0)
            fetch_hi = 0  # shards order[:fetch_hi] have been ensured
            for si, shard in enumerate(order):
                if (
                    prune
                    and len(top_buf) >= k_eff
                    and shard_ub[shard] < top_buf[-1]
                ):
                    break
                if warm is None and si >= fetch_hi:
                    # geometric fetch wave in ub-descending order: the
                    # first wave covers enough shards to plausibly fill
                    # the heap, later waves double — O(log #shards) jobs
                    # worst case, zero jobs for shards theta prunes
                    hi = min(len(order), max(si + 1, 2 * fetch_hi, 4))
                    want = {
                        (pk, t, s)
                        for s in order[fetch_hi:hi]
                        for t, _ in shard_terms[s]
                    } - blobs.keys()
                    if want:
                        blobs.update(_fetch_raw_blobs(index, want))
                    fetch_hi = hi
                terms = [
                    (w, (pk, t, shard))
                    for t, w in shard_terms[shard]
                    if (pk, t, shard) in blobs
                ]
                _, ids, scores = score_shard(
                    [terms], blobs, shard * index.shard_size, st[1],
                    index.k1, index.b, k_eff, mask, top_buf, prune,
                )
                ids = np.concatenate((ids_k, ids))
                _, ids_k, top_buf = _rank_cut(
                    np.zeros(len(ids), np.int64), ids,
                    np.concatenate((top_buf, scores)), k_eff,
                )
            k_trim = per_partition_limit if per_partition_limit is not None else limit
            if len(ids_k[:k_trim]):
                per_pk.append((pk, ids_k[:k_trim], top_buf[:k_trim]))
        if not per_pk:
            continue
        # global merge across pks (≤ limit·n_pk candidates — tiny)
        ids_cat = np.concatenate([x[1] for x in per_pk])
        scores_cat = np.concatenate([x[2] for x in per_pk])
        pk_cat = np.concatenate(
            [np.full(len(x[1]), i) for i, x in enumerate(per_pk)]
        )
        order = np.lexsort((ids_cat, -scores_cat))[:limit]
        for rank, j in enumerate(order, start=1):
            results.append(
                (
                    qid,
                    per_pk[int(pk_cat[j])][0],
                    int(ids_cat[j]),
                    float(scores_cat[j]),
                    rank,
                )
            )
    return results


def _local_result_df(spark, rows_out: list[tuple]) -> DataFrame:
    """Driver-built result rows -> DataFrame as a LocalRelation.

    Small results go through an inline SQL VALUES literal: ~30ms end-to-end
    vs ~0.2-0.3s for the Arrow createDataFrame round-trip — that difference
    IS the residual per-query latency once the whole index is RAM-resident.
    Scores are emitted with repr() + the 'D' double suffix (repr round-trips
    binary64 exactly). Big results fall back to the Arrow path."""
    if not rows_out:
        return empty_result(spark)
    if len(rows_out) <= 10_000:
        vals = ", ".join(
            "(%d, '%s', %d, %rD, %d)"
            % (q, pk.replace("\\", "\\\\").replace("'", "\\'"), d, s, r)
            for q, pk, d, s, r in rows_out
        )
        return spark.sql(
            "SELECT CAST(query_id AS BIGINT) AS query_id, pk, "
            "CAST(doc_id AS BIGINT) AS doc_id, score, "
            "CAST(rank AS INT) AS rank FROM (VALUES "
            + vals
            + ") AS t(query_id, pk, doc_id, score, rank)"
        )
    pdf = pd.DataFrame(
        rows_out, columns=["query_id", "pk", "doc_id", "score", "rank"]
    ).astype(
        {
            "query_id": "int64",
            "doc_id": "int64",
            "score": "float64",
            "rank": "int32",
        }
    )
    return spark.createDataFrame(pdf, RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Cluster path
# ---------------------------------------------------------------------------

_SCORED_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("pk", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def _cluster_scored(
    index: BM25Index,
    qrows,
    partition_keys,
    allowed: DataFrame | None,
    group_limit: int,
    stats: dict | None = None,
) -> DataFrame:
    """(query_id, pk, doc_id, score): per-(pk, shard) vectorized scoring of
    the WHOLE query batch with per-(query, shard) top-``group_limit``
    (exact — shards are disjoint doc ranges, so per-shard top-k ⊇ global
    top-k members).

    Shuffle shape: each packed blob crosses the exchange once per QUERY
    BUCKET that needs its term — NOT once per query. The bucket count is
    chosen at plan time as ceil(default parallelism / shard groups), capped
    at the batch size, so a 1000-query batch over Zipf-hot terms on a big
    index (shards >= slots) ships every blob exactly once and scores all
    1000 queries in one kernel call per shard: each block varint-decoded
    once, shared by every query using its term.

    Task shape: ONE wave of n_tasks = min(default parallelism, n_groups x
    n_buckets) Python tasks. Each (pk, shard, bucket) group is dealt a
    task id round-robin over a plan-time grid, and the joined blob rows go
    straight to their task's partition (``repartitionById``: one
    Exchange, which the per-group ``groupBy`` reuses; Spark still calls
    the scorer once per group, so a worker holds one group's rows at a
    time). Every Python task pays a fixed worker start-up, several times
    one group's ``score_shard`` call (BENCH_NOTES.md "Python task
    floor"), so tasks beyond the core count only add waves. The grid is
    pk-major, so each pk's shards go round-robin to the tasks; the deal
    counts groups, not work. On a whole single-pk index, or a whole one
    whose pks interleave over densely numbered doc ids, every task gets
    floor or ceil of groups / n_tasks, and the groups are near-equal
    (shards are equal doc ranges, a hot term is split across all of
    them). Pks on contiguous doc ranges (a conv_id partition) make many
    groups of unequal size. For a ``partition_keys`` subset or sparse
    user doc ids (``id_col``) the grid width is a guess: each pk's shards
    still go round-robin, but the floor-or-ceil count may slip.
    The explicit count also keeps AQE from coalescing the compressed
    blobs (a few hundred KB for a 400-query batch) into ONE serial task
    (``indexer._merge_runs_exchange`` guards its merge the same way)."""
    shard_size = index.shard_size
    k1, b = index.k1, index.b
    spark = index.spark

    needed = sorted({t for _, t, _ in qrows})
    p = index.packed.filter(_in_list("term", needed))
    if partition_keys is not None:
        p = p.filter(_in_list("pk", partition_keys))

    # Tiny driver-side query plan, shipped to executors in the UDF closure
    # (Spark broadcasts the serialized command): idf per (pk, term) from
    # the cached dictionary probe, avgdl per pk from the stats table. The
    # executor-side join with a per-(query, term) frame — which replicated
    # every blob row once per query containing its term — is gone.
    tmeta = _term_meta(index, needed, partition_keys)
    smap = _stats_map(index, partition_keys)
    idf_map = {key: meta[0] for key, meta in tmeta.items()}
    avgdl_map = {pk_: float(st[1]) for pk_, st in smap.items()}

    by_query: dict[int, list[tuple[str, int]]] = {}
    for qid, term, qtf in qrows:
        by_query.setdefault(qid, []).append((term, qtf))
    qids = sorted(by_query)

    # Query-bucket fan-out: with fewer (pk, shard) groups than task slots
    # (small corpus / interactive cluster), one task per group would
    # serialize the batch; splitting the query side into n_buckets groups
    # restores parallelism at a replication cost of at most n_buckets per
    # blob. Blobs are routed ONLY to buckets whose queries use the term
    # (broadcast (term, qb) join), so replication is additionally capped by
    # the number of queries using the term — the worst case equals the old
    # per-query grouping, the big-index case (n_buckets=1) ships each blob
    # once.
    pks = sorted(
        pk_ for pk_ in smap if partition_keys is None or pk_ in partition_keys
    )
    n_groups = sum(-(-int(smap[pk_][0]) // shard_size) for pk_ in pks) or 1
    target = spark.sparkContext.defaultParallelism
    n_buckets = min(len(qids), max(1, -(-target // n_groups)))
    n_tasks = min(target, n_groups * n_buckets)
    bucket_of = {qid: i % n_buckets for i, qid in enumerate(qids)}
    queries_by_bucket: dict[int, list] = {}
    for qid in qids:
        queries_by_bucket.setdefault(bucket_of[qid], []).append(
            (qid, by_query[qid])
        )
    term_bucket_rows = sorted(
        {
            (term, bucket_of[qid])
            for qid, tq in by_query.items()
            for term, _ in tq
        }
    )
    tb = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(term_bucket_rows, columns=["term", "qb"]),
            "term string, qb int",
        )
    )
    rows = p.join(tb, "term")

    if stats is not None:
        # opt-in instrumentation (tests / telemetry): plan-time bucket
        # and task facts are free; per-(pk, shard, qb) group input row
        # counts cost one extra agg job over the joined blob rows (groups,
        # not Spark tasks: a task scores several groups).
        # Replication per blob = number of buckets whose queries use its
        # term — capped by n_buckets AND by the number of queries
        # containing the term.
        repl: dict[str, int] = {}
        for term, _qb in term_bucket_rows:
            repl[term] = repl.get(term, 0) + 1
        stats["n_groups"] = n_groups
        stats["n_buckets"] = n_buckets
        stats["n_queries"] = len(qids)
        stats["n_score_tasks"] = n_tasks
        stats["max_term_replication"] = max(repl.values(), default=0)
        per_group = (
            rows.groupBy("pk", "shard", "qb")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        stats["n_score_groups"] = len(per_group)
        stats["max_task_rows"] = max(
            (int(r["c"]) for r in per_group), default=0
        )
        stats["total_joined_rows"] = sum(int(r["c"]) for r in per_group)

    has_filter = allowed is not None
    if has_filter:
        # the allowed set ships to scorers as a PACKED BITMAP per
        # (pk, shard): shard_size/8 bytes regardless of selectivity (128 KB
        # at the default 1M shard), instead of a collect_list array that
        # bloats to 8 MB/row for low-selectivity filters
        def to_bitmap(key, pdf):
            pk_, shard_ = key[0], int(key[1])
            slots = (
                pdf["doc_id"].to_numpy(np.int64) - shard_ * shard_size
            )
            bits = np.zeros(shard_size, dtype=bool)
            bits[slots] = True
            return pd.DataFrame(
                {
                    "pk": [pk_],
                    "shard": [shard_],
                    "allowed_bm": [np.packbits(bits).tobytes()],
                }
            )

        allowed_bm = (
            allowed.withColumn(
                "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
            )
            .groupBy("pk", "shard")
            .applyInPandas(
                to_bitmap, schema="pk string, shard int, allowed_bm binary"
            )
        )
        rows = rows.join(allowed_bm, ["pk", "shard"])

    def score_group(key, pdf):
        """Every query of this bucket against one shard's blobs: ONE
        ``score_shard`` call, decodes shared by all queries using a term."""
        pk, shard, qb = key[1], int(key[2]), int(key[3])
        shard_base = shard * shard_size
        avgdl = avgdl_map.get(pk)  # a pk without stats scores nothing
        queries = queries_by_bucket.get(qb, []) if avgdl is not None else []
        mask = None
        if has_filter:
            bits = np.unpackbits(
                np.frombuffer(pdf["allowed_bm"].iloc[0], dtype=np.uint8)
            ).astype(bool)

            def mask(ids):
                return bits[ids - shard_base]

        raw_by_term = {
            term: _raw_blob(*cols)
            for term, *cols in zip(pdf["term"], *(pdf[c] for c in _BLOB_COLS))
        }
        terms = [
            [
                (qtf * idf_map[(pk, term)], term)
                for term, qtf in tq
                if (pk, term) in idf_map and term in raw_by_term
            ]
            for _, tq in queries
        ]
        slot, ids, scores = score_shard(
            terms, raw_by_term, shard_base, avgdl, k1, b, group_limit, mask
        )
        qids = np.array([qid for qid, _ in queries], dtype=np.int64)
        return pd.DataFrame(
            {"query_id": qids[slot], "pk": pk, "doc_id": ids, "score": scores}
        )

    # The deal's grid: the pks in sorted order, each as wide as the grid
    # pks' doc-id space has shards, then the buckets; a group's task is
    # its grid position mod n_tasks. A pk's offset is one broadcast hash
    # probe per row.
    pos = F.col("shard").cast("long") * n_buckets + F.col("qb")
    if len(pks) > 1:
        width = -(-sum(int(smap[pk_][0]) for pk_ in pks) // shard_size)
        offsets = pd.DataFrame(
            {
                "pk": pks,
                "pk_base": np.arange(len(pks), dtype=np.int64) * width * n_buckets,
            }
        )
        rows = rows.join(
            F.broadcast(spark.createDataFrame(offsets, "pk string, pk_base long")),
            "pk",
        )
        pos = pos + F.col("pk_base")
    task = F.pmod(pos, F.lit(n_tasks)).cast("int")
    return (
        rows.withColumn("task", task)
        .drop("pk_base")
        .repartitionById(n_tasks, "task")
        .groupBy("task", "pk", "shard", "qb")
        .applyInPandas(score_group, schema=_SCORED_SCHEMA)
    )


def search_packed(
    index: BM25Index,
    queries: list[tuple[int, str]],
    limit: int = 10,
    flt: dict | None = None,
    stopwords=None,
    partition_keys: list[str] | None = None,
    per_partition_limit: int | None = None,
    prune: bool = True,
    force_cluster: bool = False,
    cluster_stats: dict | None = None,
) -> DataFrame:
    """Top-k over the packed index — the engine behind
    searcher.search_batch (same semantics/schema). Chooses the driver fast
    path or the cluster path automatically; ``prune=False`` turns off the
    shard- and block-level pruning on the driver path (reference mode).
    ``cluster_stats``: pass a dict to capture the cluster path's shuffle
    shape (bucket counts, per-group input rows — one extra agg job).
    ``collect()`` returns each query's rows together, in rank order."""
    if limit < 1:
        raise ValueError("limit must be >= 1")
    spark = index.spark
    qrows = _qrows(index, queries, stopwords)
    if not qrows:
        return empty_result(spark)

    allowed = None
    if flt:
        pred = _filter_predicate(index, flt)
        allowed = index.docs.filter(pred).select("pk", "doc_id")

    if not force_cluster:
        terms_needed = sorted({t for _, t, _ in qrows})
        tmeta = _term_meta(index, terms_needed, partition_keys)
        total_df = sum(df for _, df in tmeta.values())
        term_df: dict = {}
        for (_pk, t), (_idf, df) in tmeta.items():
            term_df[t] = term_df.get(t, 0) + df
        # per-query scoring work (df re-counted once per query using the
        # term, unlike total_df which bounds the one-time fetch volume)
        work = sum(term_df.get(t, 0) for _, t, _ in qrows)
        allowed_by_pk = None
        driver_ok = (
            total_df <= DRIVER_PATH_MAX_POSTINGS
            and work <= DRIVER_PATH_MAX_WORK
        )
        if driver_ok and allowed is not None:
            # one CollectLimit job probes size AND fetches the ids (the
            # sentinel +1 row detects overflow); the materialized per-pk
            # arrays are cached per canonical filter — a repeated filter
            # (the common tenant/source scoping pattern) costs zero jobs
            fkey = tuple(
                sorted(
                    (
                        k,
                        tuple(sorted(map(repr, v)))
                        if isinstance(v, (list, tuple, set))
                        else (repr(v),),
                    )
                    for k, v in flt.items()
                )
            )
            cache = query_cache(index)
            allowed_by_pk = cache.allowed.get(fkey)
            if allowed_by_pk is None:
                apdf = allowed.limit(DRIVER_PATH_MAX_ALLOWED + 1).toPandas()
                if len(apdf) > DRIVER_PATH_MAX_ALLOWED:
                    driver_ok = False
                else:
                    allowed_by_pk = {
                        pk: np.sort(g["doc_id"].to_numpy(np.int64))
                        for pk, g in apdf.groupby("pk", sort=False)
                    }
                    cache.put("allowed", fkey, allowed_by_pk)
            if driver_ok and not allowed_by_pk:
                return empty_result(spark)
        if driver_ok:
            rows_out = _driver_topk(
                index, qrows, limit, partition_keys, per_partition_limit,
                prune=prune, allowed_by_pk=allowed_by_pk,
            )
            return _local_result_df(spark, rows_out)

    group_limit = max(limit, per_partition_limit or 0)
    scored = _cluster_scored(
        index, qrows, partition_keys, allowed, group_limit,
        stats=cluster_stats,
    )

    if per_partition_limit is not None:
        w_pk = Window.partitionBy("query_id", "pk").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        scored = (
            scored.withColumn("prank", F.row_number().over(w_pk))
            .filter(F.col("prank") <= per_partition_limit)
            .drop("prank")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    # a local sort, no Exchange: every row of a query shares the window's
    # partition, so collect() returns each query's rows together in rank
    # order, as the driver path's VALUES rows already come
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "pk", "doc_id", "score", "rank")
        .sortWithinPartitions("query_id", "rank")
    )
