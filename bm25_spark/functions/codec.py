"""Packed posting-list codec: delta + varint compression with block-max
metadata (the north-star physical layout; the reference stores flat u32
(delta, tf) pairs — lib/src/bm25.dart:437-468 — our format additionally
varint-compresses and records per-block score upper bounds for WAND).

Layout of ``data`` (one blob per (pk, term, shard) row):
    varint stream of n triples: (doc_id_delta, tf, dl)
    doc_id_delta is vs the previous posting in THIS shard (first = doc_id -
    shard_base, where shard_base = shard * shard_size).

Block-max metadata: postings are split into blocks of BLOCK docs;
``block_last_doc[i]`` = last doc_id in block i, ``block_max[i]`` = max over
the block of tf/(tf + k1*((1-b)+b*dl/avgdl)) — the score contribution
divided by idf, so ub(term, block) = idf * block_max. True upper bounds =>
WAND pruning is exact (safe) for top-k.

Encode/decode are numpy-vectorized inside pandas UDFs (no per-row Python
varint loops: byte-expansion is done with array ops).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


_ENC_SLICE = 1 << 20  # values per internal encode slice (memory bound)


def encode_varints(
    values: np.ndarray, return_lengths: bool = False
):
    """LEB128-encode a uint64 array, vectorized. With ``return_lengths``,
    also returns the per-value byte counts (for slicing a bulk encode into
    per-run blobs).

    Encodes in internal slices of ``_ENC_SLICE`` values: the vectorized
    kernel materializes an (n, width) byte matrix plus two boolean masks
    (~10x the input bytes in transients), so one unbounded call costs
    O(input) peak memory — slicing caps the transient at ~30 MB while the
    output stream stays byte-identical (LEB128 is value-local)."""
    v = values.astype(np.uint64)
    n = len(v)
    if n == 0:
        return (b"", np.empty(0, np.int64)) if return_lengths else b""
    if n > _ENC_SLICE:
        parts = []
        lens = [] if return_lengths else None
        for s in range(0, n, _ENC_SLICE):
            out = encode_varints(v[s : s + _ENC_SLICE], return_lengths)
            if return_lengths:
                parts.append(out[0])
                lens.append(out[1])
            else:
                parts.append(out)
        buf = b"".join(parts)
        if return_lengths:
            return buf, np.concatenate(lens)
        return buf
    # byte count per value: 1 + one per 7-bit threshold crossed (max 10)
    nbytes = np.ones(n, dtype=np.int64)
    for t in range(7, 64, 7):
        nbytes += (v >= (np.uint64(1) << np.uint64(t))).astype(np.int64)
    width = int(nbytes.max())
    # (n, width) little-endian 7-bit groups, built in `width` vectorized
    # passes over ALL values (no per-iteration compaction/nonzero)
    mat = np.empty((n, width), dtype=np.uint8)
    rem = v.copy()
    for j in range(width):
        mat[:, j] = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
    cols = np.arange(width, dtype=np.int64)[None, :]
    keep = cols < nbytes[:, None]
    cont = cols < (nbytes - 1)[:, None]
    mat |= cont.astype(np.uint8) << 7
    buf = mat[keep].tobytes()
    return (buf, nbytes) if return_lengths else buf


def decode_varints(buf, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 stream (bytes or a uint8 array) to a uint64 array,
    vectorized. Raises ValueError when the stream ends inside a value or,
    given ``count``, when it does not hold exactly ``count`` values — a
    truncated or bit-flipped blob fails loudly instead of scoring garbage."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(raw < 0x80)  # bytes without a continuation bit
    if len(raw) and (len(ends) == 0 or ends[-1] != len(raw) - 1):
        raise ValueError("corrupt postings blob: ends inside a varint")
    starts = np.concatenate(([0], ends[:-1] + 1))[: len(ends)]
    # shift = 7 * (position within the value)
    within = np.arange(len(raw)) - np.repeat(starts, ends - starts + 1)
    shifted = (raw & 0x7F).astype(np.uint64) << (
        np.uint64(7) * within.astype(np.uint64)
    )
    out = np.add.reduceat(shifted, starts) if len(ends) else shifted
    if count is not None and len(out) != count:
        raise ValueError(f"corrupt postings blob: {len(out)} != {count}")
    return out


def pack_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    shard_base: int,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[bytes, int, list[int], list[float], list[int]]:
    """Returns (data, n, block_last_doc, block_max, block_off). Input must
    be doc-sorted.

    ``block_off[i]`` is the byte offset of block i's first varint triple.
    The delta chain runs straight through block boundaries, so a block can
    be decoded standalone: its first delta is relative to
    ``block_last[i-1]`` (``shard_base`` for block 0) — see
    unpack_blocks_bulk.
    """
    n = len(doc_ids)
    doc_ids = doc_ids.astype(np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = doc_ids[0] - shard_base
    deltas[1:] = np.diff(doc_ids).astype(np.uint64)
    interleaved = np.empty(3 * n, dtype=np.uint64)
    interleaved[0::3] = deltas
    interleaved[1::3] = tfs.astype(np.uint64)
    interleaved[2::3] = dls.astype(np.uint64)
    data, nbytes = encode_varints(interleaved, return_lengths=True)
    cum = np.concatenate(([0], np.cumsum(nbytes)))

    norm = (1.0 - b) + b * dls.astype(np.float64) / avgdl
    partial = tfs.astype(np.float64) * (k1 + 1.0) / (tfs + k1 * norm)
    block_last, block_max, block_off = [], [], []
    for s in range(0, n, BLOCK):
        e = min(s + BLOCK, n)
        block_last.append(int(doc_ids[e - 1]))
        block_max.append(float(partial[s:e].max()))
        block_off.append(int(cum[3 * s]))
    return data, n, block_last, block_max, block_off


def unpack_postings(
    data: bytes, n: int, shard_base: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Returns (doc_ids, tfs, dls) — inverse of pack_postings."""
    vals = decode_varints(data, 3 * n)
    deltas = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int32)
    dls = vals[2::3].astype(np.int32)
    doc_ids = np.cumsum(deltas) + shard_base
    return doc_ids, tfs, dls


def unpack_blocks_bulk(
    blobs, sels
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode the selected blocks of MANY blobs with ONE decode_varints
    call over their concatenated byte ranges (ruled-out blocks are never
    decoded). ``blobs``: per blob (data, n, shard_base, block_last,
    block_off); ``sels``: per blob its sorted unique block ids. Returns
    (doc_ids, tfs, dls, counts): each blob's selected postings in doc
    order, blob after blob, and the postings count per blob. A block's
    first delta is relative to the previous block's last doc id
    (``shard_base`` for block 0), so one segmented cumsum restores ids."""
    nblk = np.array([len(blob[4]) for blob in blobs], dtype=np.int64)
    first = np.cumsum(nblk) - nblk  # global id of each blob's block 0
    g = np.concatenate(
        [np.empty(0, np.int64)]
        + [np.asarray(s_, np.int64) + f for s_, f in zip(sels, first)]
    )
    if len(g) == 0:
        z = np.empty(0, np.int64)
        return z, z.astype(np.int32), z.astype(np.int32), nblk * 0
    owner = np.repeat(np.arange(len(blobs)), nblk)  # blob of each block
    local = np.arange(len(owner)) - first[owner]  # block id inside it
    off = np.concatenate([[0]] + [blob[4] for blob in blobs])[1:]
    end = np.append(off[1:], 0)
    end[first + nblk - 1] = [len(blob[0]) for blob in blobs]
    base = np.concatenate([[0]] + [blob[3] for blob in blobs])[:-1]
    base[first] = [blob[2] for blob in blobs]
    n = np.array([blob[1] for blob in blobs], dtype=np.int64)[owner]
    npost = (np.minimum((local + 1) * BLOCK, n) - local * BLOCK)[g]
    # one byte range per run of consecutive selected blocks of one blob
    cut = np.flatnonzero((np.diff(g) != 1) | (np.diff(owner[g]) != 0)) + 1
    r0, r1 = g[np.append(0, cut)[: len(g)]], g[np.append(cut - 1, len(g) - 1)]
    runs = zip(owner[r0].tolist(), off[r0].tolist(), end[r1].tolist())
    buf = b"".join([blobs[i][0][lo:hi] for i, lo, hi in runs])
    vals = decode_varints(buf, 3 * int(npost.sum()))
    deltas = vals[0::3].astype(np.int64)
    csum = np.cumsum(deltas)
    head = np.cumsum(npost) - npost  # first posting of each selected block
    doc_ids = csum + np.repeat(base[g] - (csum[head] - deltas[head]), npost)
    counts = np.bincount(owner[g], weights=npost, minlength=len(blobs))
    tfs, dls = vals[1::3].astype(np.int32), vals[2::3].astype(np.int32)
    return doc_ids, tfs, dls, counts.astype(np.int64)


def unpack_blocks(
    data: bytes,
    n: int,
    shard_base: int,
    block_last: np.ndarray,
    block_off: np.ndarray,
    sel: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) of the selected blocks (sorted unique block
    ids) of one packed posting blob: unpack_blocks_bulk over one blob."""
    return unpack_blocks_bulk(
        [(data, n, shard_base, block_last, block_off)], [sel]
    )[:3]


def pack_run(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, base: int
) -> bytes:
    """Pack a doc-sorted partial posting run (same triple-varint layout as
    pack_postings, no block metadata — the map-side unit of the two-stage
    build: partitions emit compressed runs, the per-term shuffle moves only
    these blobs, and the reducer merge-sorts runs into the final shard)."""
    n = len(doc_ids)
    doc_ids = doc_ids.astype(np.int64)
    interleaved = np.empty(3 * n, dtype=np.uint64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = doc_ids[0] - base
    deltas[1:] = np.diff(doc_ids).astype(np.uint64)
    interleaved[0::3] = deltas
    interleaved[1::3] = tfs.astype(np.uint64)
    interleaved[2::3] = dls.astype(np.uint64)
    return encode_varints(interleaved)


unpack_run = unpack_postings  # identical layout


def pack_runs_bulk(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    bases: np.ndarray,
) -> list[bytes]:
    """Pack MANY doc-sorted runs in one vectorized pass (the map side of
    the two-stage postings build — one encode_varints call regardless of
    how many (term, shard) runs the task holds; per-run blobs are byte
    slices of the bulk buffer).

    ``starts``/``ends``: run boundaries into the flat arrays (runs must be
    contiguous and internally doc-sorted); ``bases``: per-run shard base."""
    n = len(doc_ids)
    if n == 0:
        return []
    # contiguity + non-emptiness are load-bearing for the reduceat-based
    # offsets below (reduceat over a repeated boundary would yield a
    # 1-element sum, not 0, for an empty run)
    if (
        starts[0] != 0
        or ends[-1] != n
        or not np.array_equal(ends[:-1], starts[1:])
        or not (ends > starts).all()
    ):
        raise ValueError(
            "pack_runs_bulk requires contiguous non-empty runs"
        )
    doc_ids = doc_ids.astype(np.int64)
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = np.diff(doc_ids)
    deltas[starts] = doc_ids[starts] - bases
    interleaved = np.empty(3 * n, dtype=np.uint64)
    interleaved[0::3] = deltas.astype(np.uint64)
    interleaved[1::3] = tfs.astype(np.uint64)
    interleaved[2::3] = dls.astype(np.uint64)
    del deltas
    buf, nbytes = encode_varints(interleaved, return_lengths=True)
    del interleaved
    # per-run byte offsets via reduceat over the run boundaries — never a
    # full per-value cumsum (that transient is 8 bytes/value at exactly the
    # task's peak-memory moment)
    run_bytes = np.add.reduceat(nbytes, 3 * starts)
    del nbytes
    offs = np.concatenate(([0], np.cumsum(run_bytes)))
    return [buf[offs[i] : offs[i + 1]] for i in range(len(starts))]
