"""Time and size one batch call of ``packed.score_shard`` on a synthetic
Zipf shard, in process (no Spark).

Usage:
    python tools/kernel_span.py --span 1048576 --queries 400 --mix zipf

Builds one shard of ``--span`` docs (1 + Poisson(8) tokens each, Zipf
s=1.07 over a 50,000-term vocabulary), packs the blobs of a seeded query
batch with ``codec.pack_postings``, makes one untimed warm-up call, then
scores the batch with one kernel call per accumulator: the measured
choice (``packed._DENSE_RATIO``), forced dense and forced sparse. ``--mix
zipf`` draws 2-4 query terms from the same Zipf law (hot terms in most
queries); ``--mix mid`` draws them uniformly from term ranks 50-2000.
Prints one JSON line per accumulator: wall seconds and the tracemalloc
peak (numpy reports its buffers to tracemalloc), and checks the three
give bit-identical results.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import tracemalloc

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bm25_spark.functions import codec  # noqa: E402
from bm25_spark.operators import packed  # noqa: E402

K1, B, K, VOCAB = 1.2, 0.75, 10, 50_000


def shard(span: int, n_queries: int, mix: str, seed: int):
    """(queries, blobs, shard_base, avgdl) in score_shard's input form."""
    rng = np.random.default_rng(seed)
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** 1.07)
    cdf /= cdf[-1]
    dl = rng.poisson(8, span) + 1
    doc = np.repeat(np.arange(span), dl)
    term = np.searchsorted(cdf, rng.random(len(doc)))
    cells, tf = np.unique(term.astype(np.int64) * span + doc, return_counts=True)
    t_of, d_of = np.divmod(cells, span)
    draw = [
        np.searchsorted(cdf, rng.random(rng.integers(2, 5)))
        if mix == "zipf"
        else rng.integers(50, 2000, rng.integers(2, 5))
        for _ in range(n_queries)
    ]
    base, avgdl = 3 * span, float(dl.mean())
    blobs, idf = {}, {}
    for t in np.unique(np.concatenate(draw)).tolist():
        lo, hi = np.searchsorted(t_of, [t, t + 1])
        if hi > lo:
            ids = d_of[lo:hi]
            data, n, bl, bm, off = codec.pack_postings(
                ids + base, tf[lo:hi], dl[ids], base, K1, B, avgdl
            )
            blobs[t] = packed._raw_blob(n, data, bl, bm, off)
            idf[t] = float(np.log(1 + (span - (hi - lo) + 0.5) / (hi - lo + 0.5)))
    queries = [[(idf[t], t) for t in np.unique(q).tolist() if t in blobs] for q in draw]
    return queries, blobs, base, avgdl


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--span", type=int, default=1 << 16)
    ap.add_argument("--queries", type=int, default=400)
    ap.add_argument("--mix", choices=("zipf", "mid"), default="zipf")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    queries, blobs, base, avgdl = shard(a.span, a.queries, a.mix, a.seed)
    pairs = sum(blobs[t][0] for q in queries for _, t in q)
    results = []
    default = packed._DENSE_RATIO
    packed.score_shard(queries, blobs, base, avgdl, K1, B, K)  # warm-up
    for name, ratio in (("measured", default), ("dense", float("inf")), ("sparse", 0)):
        packed._DENSE_RATIO = ratio
        tracemalloc.start()
        t0 = time.perf_counter()
        out = packed.score_shard(queries, blobs, base, avgdl, K1, B, K)
        secs = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        packed._DENSE_RATIO = default
        results.append(out)
        print(json.dumps({
            "span": a.span, "queries": a.queries, "mix": a.mix, "seed": a.seed,
            "pairs": int(pairs), "accumulator": name,
            "seconds": round(secs, 3), "peak_mb": round(peak / 2**20, 1),
        }), flush=True)
    for out in results[1:]:
        if not all(np.array_equal(x, y) for x, y in zip(results[0], out)):
            raise SystemExit("accumulators disagree: results not bit-identical")


if __name__ == "__main__":
    main()
