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
- scoring is pure numpy over Arrow batches: varint-decode, dense
  accumulate (np.bincount over shard-local doc slots), partition top-k. No
  per-row Python, no JVM<->Python chatter beyond the ≤|q| blobs/shard.

One scoring kernel, ``score_shard``, serves both strategies below: it
scores one query against one shard's weighted term blobs by segment-ordered
block-max WAND with chunked theta updates, decoding only the blocks it
cannot rule out through one per-block cache over ``codec.unpack_blocks``
(``_decode_blocks``). The strategies differ only in what they feed it.

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
   top-k merges globally. Each task runs the kernel once per (query, shard)
   and shares its block decodes across the bucket's queries. Metadata
   filters become a doc-id mask INSIDE the kernel (reference semantics:
   filtered docs skipped during traversal, bm25.dart:644).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
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
    _stats_map,
    empty_result,
)

# Above this many candidate postings the driver path would pull too much —
# score on the cluster instead. Overridable for experiments.
DRIVER_PATH_MAX_POSTINGS = int(
    os.environ.get("BM25_DRIVER_PATH_MAX_POSTINGS", "20000000")
)
# The blob FETCH is shared across a batch's queries, but driver SCORING is
# per-query single-threaded WAND — a batch of Q hot queries costs
# ~Σ_q Σ_{t∈q} df(t) score-visits even when every blob is cached. Bound
# that work independently of the fetch bound, or a large-Q batch of hot
# terms silently serializes on the driver while 4N executors idle.
# ~100M visits ≈ 1 s of driver numpy at 2026 single-core speed — the
# measured floor of one cluster batch job; past it the cluster path wins.
DRIVER_PATH_MAX_WORK = int(
    os.environ.get("BM25_DRIVER_PATH_MAX_WORK", "100000000")
)
# Metadata filters: the driver path materializes the allowed doc-id set
# locally only below this cardinality; bigger filters score on the cluster.
DRIVER_PATH_MAX_ALLOWED = int(
    os.environ.get("BM25_DRIVER_PATH_MAX_ALLOWED", "2000000")
)


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


def warm_query_caches(
    index: BM25Index,
    max_terms: int = 100_000,
    preload_blobs: bool = True,
    max_blob_bytes: int = 4 << 30,
) -> bool:
    """Preload the term dictionary + shard metadata — and, when the packed
    postings fit ``max_blob_bytes``, the blobs themselves — into the driver
    caches (what a search head does at startup: the index becomes RAM-
    resident). After warming, a query pays ZERO Spark jobs on the hot
    path — probe, prune, decode, and score are all in-process numpy; the
    cluster path remains the route for oversized indexes/filters. Skipped
    (returns False) when the vocabulary exceeds ``max_terms``; per-term
    lazy probes with parquet term-pushdown remain the scale path."""
    if index.terms.count() > max_terms:
        return False
    tcache: dict = {}
    for r in index.terms.select("pk", "term", "idf", "df").collect():
        tcache.setdefault(r["term"], {})[r["pk"]] = (float(r["idf"]), int(r["df"]))

    do_blobs = False
    if preload_blobs:
        total = index.packed.agg(
            F.sum(F.length("data")).alias("b")
        ).first()["b"]
        do_blobs = total is not None and int(total) <= max_blob_bytes
    cols = ["pk", "term", "shard", "n", "block_last", "block_max", "block_off"]
    if do_blobs:
        cols.append("data")
    scache: dict = {}
    rcache: dict = {}
    for r in index.packed.select(*cols).collect():
        scache.setdefault(r["term"], {}).setdefault(r["pk"], []).append(
            (int(r["shard"]), int(r["n"]), float(max(r["block_max"])))
        )
        if do_blobs:
            key = (r["pk"], r["term"], int(r["shard"]))
            rcache[key] = _raw_blob(*(r[c] for c in _BLOB_COLS))
    # wholesale replace — appending onto entries from earlier lazy probes
    # would duplicate shard meta (and double scores)
    index.__dict__["_term_meta_cache"] = tcache
    index.__dict__["_shard_meta_cache"] = scache
    if do_blobs:
        index.__dict__["_raw_blob_cache"] = rcache
        index.__dict__["_blobs_complete"] = True
    _stats_map(index, None)
    index.__dict__["_dict_complete"] = True
    return True


def _term_meta(index: BM25Index, terms_needed, partition_keys):
    """(pk, term) -> (idf, df) via the term dictionary, cached on the index
    (the driver-side analog of the reference's dictionary probe,
    bm25.dart:637)."""
    cache = index.__dict__.setdefault("_term_meta_cache", {})
    missing = [t for t in terms_needed if t not in cache]
    if missing and index.__dict__.get("_dict_complete"):
        for t in missing:
            cache[t] = {}
        missing = []
    if missing:
        for t in missing:
            cache[t] = {}
        rows = (
            index.terms.filter(F.col("term").isin(missing))
            .select("pk", "term", "idf", "df")
            .collect()
        )
        for r in rows:
            cache[r["term"]][r["pk"]] = (float(r["idf"]), int(r["df"]))
    out = {}
    for t in terms_needed:
        for pk, meta in cache[t].items():
            if partition_keys is None or pk in partition_keys:
                out[(pk, t)] = meta
    return out


def _shard_meta(index: BM25Index, terms_needed, partition_keys):
    """(pk, term) -> list of (shard, n, ub_partial) where ub_partial =
    max block_max over the shard. Cached; blobs are NOT fetched here."""
    cache = index.__dict__.setdefault("_shard_meta_cache", {})
    missing = [t for t in terms_needed if t not in cache]
    if missing and index.__dict__.get("_dict_complete"):
        for t in missing:
            cache[t] = {}
        missing = []
    if missing:
        for t in missing:
            cache[t] = {}
        rows = (
            index.packed.filter(F.col("term").isin(missing))
            .select("pk", "term", "shard", "n", "block_max")
            .collect()
        )
        for r in rows:
            cache[r["term"]].setdefault(r["pk"], []).append(
                (int(r["shard"]), int(r["n"]), float(max(r["block_max"])))
            )
    out = {}
    for t in terms_needed:
        for pk, lst in cache[t].items():
            if partition_keys is None or pk in partition_keys:
                out[(pk, t)] = lst
    return out


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


def _fetch_raw_blobs(index: BM25Index, wanted: set[tuple[str, str, int]]) -> None:
    """Fetch packed blobs (raw bytes) for the given (pk, term, shard) keys
    into the driver cache — ONE Spark collect for all of them (the scan is
    pruned by the term IN (...) predicate: parquet min-max + dictionary).
    Decoding happens lazily per block in ``score_shard`` so block-max
    pruning skips the decode cost of blocks it rules out."""
    cache = index.__dict__.setdefault("_raw_blob_cache", {})
    if not index.__dict__.get("_blobs_complete") and len(cache) > 65536:
        # bound driver memory for lazily-fetched blobs; refetch is cheap.
        # A complete preload (warm_query_caches) is size-gated instead.
        cache.clear()
        index.__dict__.get("_block_cache", {}).clear()
    missing = [k for k in wanted if k not in cache]
    if missing:
        terms_m = sorted({t for _, t, _ in missing})
        pks_m = sorted({p for p, _, _ in missing})
        shards_m = sorted({s for _, _, s in missing})
        rows = (
            index.packed.filter(
                F.col("term").isin(terms_m)
                & F.col("pk").isin(pks_m)
                # shard predicate: ub-ordered fetch waves (see _driver_topk)
                # must not drag in every shard of a term the moment one
                # shard of it is wanted — bytes collected track the WAND
                # frontier, not the whole term
                & F.col("shard").isin(shards_m)
            )
            .select("pk", "term", "shard", *_BLOB_COLS)
            .collect()
        )
        for r in rows:
            key = (r["pk"], r["term"], int(r["shard"]))
            cache[key] = _raw_blob(*(r[c] for c in _BLOB_COLS))


def _decode_blocks(cache: dict, key, raw: tuple, shard_base: int, need):
    """(ids, tfs, dls) of the sorted block ids ``need`` of one blob, through
    ``cache`` — {(key, block id): arrays}. A block reached through
    different ``need`` shapes (other queries, other segment chunks) decodes
    exactly once. The driver keeps one such cache per index (see
    ``_driver_blocks``), a cluster task one per (pk, shard) group."""
    n, data, bl, _bm, off = raw
    nl = need.tolist()
    new = [b_ for b_ in nl if (key, b_) not in cache]
    if new:
        ids, tfs, dls = codec.unpack_blocks(
            data, n, shard_base, bl, off, np.asarray(new, np.int64)
        )
        o = 0
        for b_ in new:
            s_ = min((b_ + 1) * codec.BLOCK, n) - b_ * codec.BLOCK
            cache[(key, b_)] = (
                ids[o : o + s_], tfs[o : o + s_], dls[o : o + s_]
            )
            o += s_
    if len(nl) == 1:
        return cache[(key, nl[0])]
    parts = [cache[(key, b_)] for b_ in nl]
    return tuple(np.concatenate(col) for col in zip(*parts))


def _driver_blocks(index: BM25Index, key: tuple[str, str, int], raw, need):
    """``_decode_blocks`` over the index's driver-side block cache."""
    cache = index.__dict__.setdefault("_block_cache", {})
    if len(cache) > 65536:  # bound driver memory; re-decode is cheap
        cache.clear()
    return _decode_blocks(cache, key, raw, key[2] * index.shard_size, need)


def _in_sorted(allow: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Membership of ``ids`` in the sorted array ``allow``."""
    pos = np.searchsorted(allow, ids).clip(max=len(allow) - 1)
    return allow[pos] == ids


# segments scored between two theta updates in score_shard
_SEG_CHUNK = 64


def score_shard(
    terms: list[tuple],
    shard_base: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    top_buf: np.ndarray,
    decode,
    mask=None,
    prune: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact BM25 scores of one query over one shard with block-max WAND —
    the one scoring kernel of the driver and the cluster path.

    ``terms``: (w = qtf*idf, key, raw) per query term present in the
    shard, in query-term order; raw = (n, data, block_last, block_max,
    block_off). ``top_buf``: the caller's running top-``k`` scores (theta
    is its min once it holds k) — the driver carries it across a query's
    shards, a cluster task starts each (query, shard) empty.
    ``decode(key, raw, need)``: (ids, tfs, dls) of the sorted block ids
    ``need``. ``mask(ids)``: bool keep-mask of filter-allowed docs (None =
    all). ``prune=False`` scores every posting (the reference mode).

    The union of the terms' block_last boundaries partitions the shard's
    doc-id space into segments, each covered by exactly one block per
    term. Segments are scored in upper-bound order, _SEG_CHUNK at a time;
    once top_buf is full, a segment whose summed block maxima cannot reach
    theta is skipped, and a block ALL of whose segments are skipped is
    never varint-decoded. The order is ub-descending, so the first dead
    chunk ends the shard. Safe: block maxima are TRUE upper bounds in the
    same float association as the scores below, pruning is strict
    ('< theta'), and every kept doc has all of its blocks decoded — kept
    scores are exact and the top-k is unchanged even on boundary ties.

    Returns (doc_ids, scores, top_buf): every doc scored (segments are
    disjoint, so the ids are unique) and the updated buffer."""
    bounds = np.unique(np.concatenate([raw[2] for _, _, raw in terms]))
    nseg = len(bounds)
    seg_ub = np.zeros(nseg)
    covers = []
    for w, _key, (_n, _data, bl, bm, _off) in terms:
        ci = np.searchsorted(bl, bounds)
        valid = ci < len(bl)
        seg_ub[valid] += w * bm[ci[valid]]
        covers.append((ci, valid))
    order = np.argsort(-seg_ub, kind="stable")
    step = _SEG_CHUNK if prune else nseg
    kept_ids, kept_scores = [], []
    for pos in range(0, nseg, step):
        chunk = order[pos : pos + step]
        if prune and len(top_buf) >= k:
            chunk = chunk[seg_ub[chunk] >= top_buf.min()]
            if len(chunk) == 0:
                break  # order is ub-descending: the rest is dead too
        sel = np.zeros(nseg, dtype=bool)
        sel[chunk] = True
        docs_l, contrib_l = [], []
        for (w, key, raw), (ci, valid) in zip(terms, covers):
            need = np.unique(ci[sel & valid])
            if len(need) == 0:
                continue
            ids, tfs, dls = decode(key, raw, need)
            keep = sel[np.searchsorted(bounds, ids)]
            if mask is not None:
                # reference semantics: filtered docs skipped during
                # traversal (bm25.dart:644); mask-only ⇒ the upper bounds
                # stay valid (pruning exact)
                keep &= mask(ids)
            if not keep.any():
                continue
            tfs = tfs[keep].astype(np.float64)
            norm = (1.0 - b) + b * dls[keep].astype(np.float64) / avgdl
            # float-association contract with the WAND bounds: the
            # per-posting partial is computed EXACTLY as
            # codec.pack_postings computes block_max (same ops, same
            # order), then scaled by w = qtf*idf — the same product the
            # bounds use. IEEE rounding is monotonic, so score <= bound
            # holds in floats, not just in math; a different association
            # can put a true score 1 ulp ABOVE its "upper bound" and mask
            # an equal-scored doc.
            contrib_l.append(w * (tfs * (k1 + 1.0) / (tfs + k1 * norm)))
            docs_l.append(ids[keep])
        if not docs_l:
            continue
        # dense accumulate over shard-local slots (no sort): every
        # contribution is > 0, so touched slots are exactly the nonzero
        # ones (reference's sparse `touched`, bm25.dart:633). bincount adds
        # each slot's contributions in input order — query-term order on
        # both paths, so driver and cluster scores are bit-identical.
        dense = np.bincount(
            np.concatenate(docs_l) - shard_base,
            weights=np.concatenate(contrib_l),
        )
        nz = np.flatnonzero(dense)
        kept_ids.append(nz + shard_base)
        kept_scores.append(dense[nz])
        # running top-k buffer: a theta update costs O(chunk docs + k),
        # not a partition over everything scored so far
        top_buf = np.concatenate((top_buf, dense[nz]))
        if len(top_buf) > k:
            top_buf = np.partition(top_buf, -k)[-k:]
    if not kept_ids:
        return np.empty(0, np.int64), np.empty(0), top_buf
    return np.concatenate(kept_ids), np.concatenate(kept_scores), top_buf


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
    # Σ df. Warmed indexes (_blobs_complete) skip fetching entirely; blobs
    # shared across the batch's queries are fetched once (_raw_blob_cache).
    blobs_complete = bool(index.__dict__.get("_blobs_complete"))
    cache = index.__dict__.setdefault("_raw_blob_cache", {})
    decode = functools.partial(_driver_blocks, index)
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
            top_buf = np.empty(0, dtype=np.float64)
            kept_ids: list[np.ndarray] = []
            kept_scores: list[np.ndarray] = []
            fetch_hi = 0  # shards order[:fetch_hi] have been ensured
            for si, shard in enumerate(order):
                if (
                    prune
                    and len(top_buf) >= k_eff
                    and shard_ub[shard] < top_buf.min()
                ):
                    break
                if not blobs_complete and si >= fetch_hi:
                    # geometric fetch wave in ub-descending order: the
                    # first wave covers enough shards to plausibly fill
                    # the heap, later waves double — O(log #shards) jobs
                    # worst case, zero jobs for shards theta prunes
                    hi = min(len(order), max(si + 1, 2 * fetch_hi, 4))
                    want = {
                        (pk, t, s)
                        for s in order[fetch_hi:hi]
                        for t, _ in shard_terms[s]
                    }
                    if any(k not in cache for k in want):
                        _fetch_raw_blobs(index, want)
                    fetch_hi = hi
                terms = [
                    (w, (pk, t, shard), cache[(pk, t, shard)])
                    for t, w in shard_terms[shard]
                    if (pk, t, shard) in cache
                ]
                if not terms:
                    continue
                ids, scores, top_buf = score_shard(
                    terms, shard * index.shard_size, st[1], index.k1,
                    index.b, k_eff, top_buf, decode, mask, prune,
                )
                if len(ids):
                    kept_ids.append(ids)
                    kept_scores.append(scores)
            if not kept_ids:
                continue
            ids = np.concatenate(kept_ids)
            scores = np.concatenate(kept_scores)
            k_trim = per_partition_limit if per_partition_limit is not None else limit
            if len(ids) > k_trim:
                # exact top-k with (score desc, doc_id asc) tie-break
                sel = np.lexsort((ids, -scores))[:k_trim]
                ids, scores = ids[sel], scores[sel]
            per_pk.append((pk, ids, scores))
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
    1000 queries in one pass per shard, sharing the varint block decodes
    across queries."""
    shard_size = index.shard_size
    k1, b = index.k1, index.b
    spark = index.spark

    needed = sorted({t for _, t, _ in qrows})
    p = index.packed.filter(F.col("term").isin(needed))
    if partition_keys is not None:
        p = p.filter(F.col("pk").isin(partition_keys))

    # Tiny driver-side query plan, shipped to executors in the UDF closure
    # (Spark broadcasts the serialized command): idf per (pk, term) from
    # the cached dictionary probe, avgdl per pk from the stats table. The
    # executor-side join with a per-(query, term) frame — which replicated
    # every blob row once per query containing its term — is gone.
    tmeta = _term_meta(index, needed, partition_keys)
    smap = _stats_map(index, partition_keys)
    idf_map = {key: meta[0] for key, meta in tmeta.items()}
    avgdl_map = {
        pk_: float(st[1]) for pk_, st in smap.items() if st is not None
    }

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
    n_groups = sum(
        -(-int(st[0]) // shard_size)
        for pk_, st in smap.items()
        if st is not None
        and (partition_keys is None or pk_ in partition_keys)
    ) or 1
    target = spark.sparkContext.defaultParallelism
    n_buckets = min(len(qids), max(1, -(-target // n_groups)))
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
        # facts are free; per-task input row counts cost one extra agg job
        # over the joined blob rows. Replication per blob = number of
        # buckets whose queries use its term — capped by n_buckets AND by
        # the number of queries containing the term.
        repl: dict[str, int] = {}
        for term, _qb in term_bucket_rows:
            repl[term] = repl.get(term, 0) + 1
        stats["n_groups"] = n_groups
        stats["n_buckets"] = n_buckets
        stats["n_queries"] = len(qids)
        stats["max_term_replication"] = max(repl.values(), default=0)
        per_task = (
            rows.groupBy("pk", "shard", "qb")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        stats["n_tasks"] = len(per_task)
        stats["max_task_rows"] = max(
            (int(r["c"]) for r in per_task), default=0
        )
        stats["total_joined_rows"] = sum(int(r["c"]) for r in per_task)

    has_filter = allowed is not None
    if has_filter:
        # the allowed set ships to scorers as a PACKED BITMAP per
        # (pk, shard): shard_size/8 bytes regardless of selectivity (128 KB
        # at the default 1M shard), instead of a collect_list array that
        # bloats to 8 MB/row for low-selectivity filters
        def to_bitmap(key, pdf: pd.DataFrame) -> pd.DataFrame:
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

    def _empty_scored() -> pd.DataFrame:
        return pd.DataFrame(
            {"query_id": [], "pk": [], "doc_id": [], "score": []}
        ).astype({"query_id": np.int64, "doc_id": np.int64, "score": np.float64})

    def score_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        """Score every query of this bucket against one shard's blobs: one
        ``score_shard`` call per query, each starting from an empty top-k
        (theta is local to the task). Block decodes are cached PER TERM
        and shared across all queries in the task (a hot term's postings
        decode once per shard, not once per query)."""
        pk, shard, qb = key[0], int(key[1]), int(key[2])
        shard_base = shard * shard_size
        avgdl = avgdl_map.get(pk)
        queries = queries_by_bucket.get(qb)
        if avgdl is None or not queries:
            return _empty_scored()
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
        dec_cache: dict = {}

        def decode(term, raw, need):
            return _decode_blocks(dec_cache, term, raw, shard_base, need)

        frames = []
        for qid, tq in queries:
            terms = []
            for term, qtf in tq:
                idf = idf_map.get((pk, term))
                if idf is not None and term in raw_by_term:
                    terms.append((qtf * idf, term, raw_by_term[term]))
            if not terms:
                continue
            ids, scores, _ = score_shard(
                terms, shard_base, avgdl, k1, b, group_limit,
                np.empty(0, dtype=np.float64), decode, mask,
            )
            if len(ids) > group_limit:
                # exact cut with the global (score desc, doc_id asc)
                # tie-break: an equal-scored doc at the k boundary must not
                # be dropped by an order-agnostic partition
                sel = np.lexsort((ids, -scores))[:group_limit]
                ids, scores = ids[sel], scores[sel]
            if len(ids):
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.int64(qid),
                            "pk": pk,
                            "doc_id": ids,
                            "score": scores,
                        }
                    )
                )
        if not frames:
            return _empty_scored()
        return pd.concat(frames, ignore_index=True)

    return rows.groupBy("pk", "shard", "qb").applyInPandas(
        score_group, schema=_SCORED_SCHEMA
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
    shape (bucket counts, per-task input rows — one extra agg job)."""
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
            acache = index.__dict__.setdefault("_allowed_cache", {})
            if fkey in acache:
                allowed_by_pk = acache[fkey]
            else:
                apdf = allowed.limit(DRIVER_PATH_MAX_ALLOWED + 1).toPandas()
                if len(apdf) > DRIVER_PATH_MAX_ALLOWED:
                    driver_ok = False
                else:
                    allowed_by_pk = {
                        pk: np.sort(g["doc_id"].to_numpy(np.int64))
                        for pk, g in apdf.groupby("pk", sort=False)
                    }
                    if len(acache) > 64:
                        acache.clear()
                    acache[fkey] = allowed_by_pk
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
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "pk", "doc_id", "score", "rank")
    )
