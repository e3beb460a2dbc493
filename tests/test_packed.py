"""Packed index (delta+varint blobs + the shared per-shard scoring kernel)
must be rank- and score-identical to the oracle on both the driver and the
cluster path, and the two paths bit-identical to each other."""

import dataclasses
import re

import numpy as np
import pytest

from bm25_spark.functions import codec
from bm25_spark.operators.indexer import build_index
from bm25_spark.operators.packed import search_packed
from bm25_spark.oracle import OracleBM25
from bm25_spark.sources.datagen import (
    golden_transcripts,
    synthetic_transcripts,
    transcripts_rows_for_oracle,
)

GOLDEN = {
    "quick fox": [(0, 1.6473), (1, 0.9138), (3, 0.8664)],
    "lazy dog": [(2, 1.1252), (0, 1.0142), (1, 0.5626)],
    "jumping": [(3, 1.3719)],
}


@pytest.fixture(scope="module")
def packed_golden(spark):
    idx = build_index(golden_transcripts(spark))
    idx.packed.persist()
    idx.packed.count()
    yield idx
    idx.packed.unpersist()


@pytest.fixture(scope="module")
def packed_synth(spark):
    df = synthetic_transcripts(spark, n_convs=30, seed=11)
    idx = build_index(df, shard_size=64)
    idx.persist()
    idx.packed.persist()
    idx.packed.count()
    yield idx
    idx.unpersist()
    idx.packed.unpersist()


@pytest.fixture(scope="module")
def synth_oracle(packed_synth):
    rows = packed_synth.docs.orderBy("conv_id", "turn_idx").collect()
    return OracleBM25(
        transcripts_rows_for_oracle(rows),
        index_fields=["role", "tool", "conv_id"],
    )


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.orderBy("rank").collect()]


def _assert_matches_oracle(idx, oracle, q, limit, flt=None):
    """Driver and cluster path: ids and ranks exactly the oracle's, scores
    within 1e-9 (the oracle adds a repeated query term's contribution
    qtf times; the engine multiplies by qtf)."""
    want = oracle.search(q, limit=limit, flt=flt)
    assert want, q
    for force_cluster in (False, True):
        res = search_packed(
            idx, [(0, q)], limit=limit, flt=flt, force_cluster=force_cluster
        )
        got = [
            (r["rank"], r["doc_id"], r["score"])
            for r in res.orderBy("rank").collect()
        ]
        assert [(rk, d) for rk, d, _ in got] == [
            (rk, d) for rk, (d, _) in enumerate(want, start=1)
        ], (q, force_cluster)
        for (_, _, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (q, force_cluster)


def test_codec_property_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(30):
        n = int(rng.integers(1, 2000))
        base = int(rng.integers(0, 2**40))
        ids = np.sort(rng.choice(10**7, size=n, replace=False)) + base
        tfs = rng.integers(1, 1000, n)
        dls = rng.integers(0, 10**6, n)
        data, m, bl, bm, off = codec.pack_postings(
            ids, tfs, dls, base, 1.2, 0.75, 123.4
        )
        i2, t2, l2 = codec.unpack_postings(data, m, base)
        assert np.array_equal(ids, i2)
        assert np.array_equal(tfs, t2.astype(np.int64))
        assert np.array_equal(dls, l2.astype(np.int64))
        # block bounds are true upper bounds of the partial score
        norm = 0.25 + 0.75 * dls / 123.4
        partial = tfs * 2.2 / (tfs + 1.2 * norm)
        for bi in range(len(bm)):
            lo, hi = bi * codec.BLOCK, min((bi + 1) * codec.BLOCK, n)
            assert partial[lo:hi].max() <= bm[bi] + 1e-12
        # random block subsets decode standalone via block_off
        nb = len(bl)
        bl_a = np.asarray(bl, np.int64)
        off_a = np.asarray(off, np.int64)
        for _ in range(3):
            sel = np.flatnonzero(rng.random(nb) < 0.5)
            want = np.zeros(n, dtype=bool)
            for b_ in sel:
                want[b_ * codec.BLOCK : (b_ + 1) * codec.BLOCK] = True
            i3, t3, l3 = codec.unpack_blocks(data, m, base, bl_a, off_a, sel)
            assert np.array_equal(ids[want], i3)
            assert np.array_equal(tfs[want], t3.astype(np.int64))
            assert np.array_equal(dls[want], l3.astype(np.int64))


def test_encode_varints_sliced_byte_identical(monkeypatch):
    """The memory-bounded internal slicing of encode_varints must be
    byte-identical to the one-shot kernel (LEB128 is value-local)."""
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 2**50, size=10_000, dtype=np.uint64)
    whole, whole_lens = codec.encode_varints(vals, return_lengths=True)
    monkeypatch.setattr(codec, "_ENC_SLICE", 257)  # force many slices
    sliced, sliced_lens = codec.encode_varints(vals, return_lengths=True)
    assert sliced == whole
    assert np.array_equal(sliced_lens, whole_lens)
    assert codec.encode_varints(vals) == whole


def test_pack_runs_bulk_matches_per_run_and_guards():
    rng = np.random.default_rng(5)
    n_runs = 40
    lens = rng.integers(1, 200, n_runs)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ends = np.cumsum(lens)
    n = int(ends[-1])
    bases = rng.integers(0, 2**20, n_runs) * 1000
    ids = np.concatenate(
        [
            np.sort(rng.choice(900, size=l, replace=False)) + b
            for l, b in zip(lens, bases)
        ]
    )
    tfs = rng.integers(1, 50, n)
    dls = rng.integers(1, 500, n)
    blobs = codec.pack_runs_bulk(ids, tfs, dls, starts, ends, bases)
    for i in range(n_runs):
        s, e = starts[i], ends[i]
        assert blobs[i] == codec.pack_run(
            ids[s:e], tfs[s:e], dls[s:e], int(bases[i])
        )
    # non-contiguous and empty runs are rejected loudly
    with pytest.raises(ValueError):
        codec.pack_runs_bulk(
            ids, tfs, dls, starts + 1, ends + 1, bases
        )
    s2, e2 = starts.copy(), ends.copy()
    e2[3] = s2[3]  # empty run, still "contiguous" w.r.t. the next start
    s2[4] = e2[3]
    with pytest.raises(ValueError):
        codec.pack_runs_bulk(ids, tfs, dls, s2, e2, bases)


def _corrupt_variants(data: bytes):
    """A truncated copy and copies with one continuation bit flipped."""
    yield data[:-1]
    for pos in (0, len(data) // 2, len(data) - 1):
        flipped = bytearray(data)
        flipped[pos] ^= 0x80
        yield bytes(flipped)


def test_codec_corrupt_blob_raises(spark):
    """Every decoder checks the decoded value count and raises ValueError —
    also under ``python -O`` — instead of scoring a truncated or
    bit-flipped blob."""
    import pyspark.sql.functions as F

    from bm25_spark.operators.indexer import _DL_TERM, doclens_view

    rng = np.random.default_rng(4)
    ids = np.sort(rng.choice(5000, size=400, replace=False))
    tfs = rng.integers(1, 300, 400)
    dls = rng.integers(1, 5000, 400)
    data, n, bl, _bm, off = codec.pack_postings(
        ids, tfs, dls, 0, 1.2, 0.75, 50.0
    )
    bl, off = np.asarray(bl), np.asarray(off)
    everything = np.arange(len(bl))
    decoders = [
        lambda d: codec.decode_varints(d, 3 * n),
        lambda d: codec.unpack_postings(d, n, 0),
        lambda d: codec.unpack_blocks(d, n, 0, bl, off, everything),
        lambda d: codec.unpack_blocks_bulk(
            [(data, n, 0, bl, off), (d, n, 0, bl, off)], [everything] * 2
        ),
    ]
    for bad in _corrupt_variants(data):
        for decode in decoders:
            with pytest.raises(ValueError, match="corrupt postings blob"):
                decode(bad)
    with pytest.raises(ValueError, match="corrupt postings blob"):
        codec.decode_varints(b"\x81\x80")  # ends inside a varint

    # the doclens view decodes (doc id delta, dl) pairs on the executors
    pairs = np.empty(2 * n, np.uint64)
    pairs[0::2] = np.diff(ids, prepend=0)
    pairs[1::2] = dls
    good = codec.encode_varints(pairs)
    runs = spark.createDataFrame(
        [(_DL_TERM, "", n, good)], "term string, pk string, n int, data binary"
    )
    assert [r["doc_id"] for r in doclens_view(runs).collect()] == ids.tolist()
    for bad in _corrupt_variants(good):
        bad_runs = runs.withColumn("data", F.lit(bad))
        with pytest.raises(Exception, match="corrupt postings blob"):
            doclens_view(bad_runs).collect()


def kernel_shards(oracle: OracleBM25, shard_size: int) -> dict:
    """{shard: {term: raw blob}}: the oracle's postings packed per
    doc-range shard the way the engine packs them."""
    from bm25_spark.operators.packed import _raw_blob

    shards: dict = {}
    for term, post in oracle.term_docs.items():
        ids = np.array([d for d, _ in post], np.int64)
        tfs = np.array([tf for _, tf in post], np.int64)
        dls = np.array([oracle.dl[d] for d in ids], np.int64)
        for s in np.unique(ids // shard_size).tolist():
            m = ids // shard_size == s
            data, n, bl, bm, off = codec.pack_postings(
                ids[m], tfs[m], dls[m], s * shard_size,
                oracle.k1, oracle.b, oracle.avgdl,
            )
            shards.setdefault(s, {})[term] = _raw_blob(n, data, bl, bm, off)
    return shards


def kernel_terms(oracle: OracleBM25, queries, blobs) -> list[list[tuple]]:
    """score_shard's per-query (w = qtf*idf, term) lists for one shard."""
    from bm25_spark.functions.analyzer import query_term_counts

    return [
        [
            (qtf * oracle.idf[t], t)
            for t, qtf in query_term_counts(q, oracle.stopwords).items()
            if t in blobs
        ]
        for q in queries
    ]


def _kernel_corpus():
    """700 docs with a role field; 'alpha' in 2/3 of them, so at
    shard_size 350 its per-shard list spans two blocks."""
    rng = np.random.default_rng(9)
    words = ["beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    texts = []
    for i in range(700):
        toks = list(rng.choice(words, size=int(rng.integers(1, 9))))
        if i % 3:
            toks += ["alpha"] * int(rng.integers(1, 4))
        texts.append((" ".join(toks), {"role": "user" if i % 2 else "bot"}))
    queries = [
        "alpha", "alpha beta", "gamma delta eps", "beta beta theta",
        "zeta", "eta alpha gamma", "unknown", "theta eps",
    ]
    return OracleBM25(texts, index_fields=["role"]), queries


def test_batch_kernel_matches_pruned_mode_and_oracle(monkeypatch):
    """One score_shard call over a query batch, per-query calls (the
    pruned mode for the long 'alpha' lists, the batch mode for the rest)
    and prune=False agree bit-for-bit per shard (ids, ranks, raw floats),
    with and without a filter mask; merged over shards they give the
    oracle's ids and ranks, with scores within 1e-9 (the oracle multiplies
    idf*tf first, a different float association)."""
    import functools

    from bm25_spark.operators import packed as packed_mod

    oracle, queries = _kernel_corpus()
    shards = kernel_shards(oracle, 350)
    k = 7
    for flt in (None, {"role": "user"}):
        mask = None
        if flt:
            allow = np.array(sorted(oracle._allowed(flt)), np.int64)
            mask = functools.partial(packed_mod._in_sorted, allow)
        merged: dict = {}
        for s, blobs in shards.items():
            terms = kernel_terms(oracle, queries, blobs)
            args = (blobs, s * 350, oracle.avgdl, oracle.k1, oracle.b, k)
            slot, ids, scores = packed_mod.score_shard(terms, *args, mask)
            for j, tq in enumerate(terms):
                m = slot == j
                for prune in (True, False):
                    one = packed_mod.score_shard(
                        [tq], *args, mask, None, prune
                    )
                    assert not one[0].any(), (j, prune)
                    assert np.array_equal(one[1], ids[m]), (j, prune)
                    assert np.array_equal(one[2], scores[m]), (j, prune)
                merged.setdefault(j, []).extend(zip(ids[m], scores[m]))
        for j, q in enumerate(queries):
            got = sorted(merged.get(j, []), key=lambda r: (-r[1], r[0]))[:k]
            want = oracle.search(q, limit=k, flt=flt)
            assert [d for d, _ in got] == [d for d, _ in want], (q, flt)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (q, flt)

    # the single long-list query really takes the pruned mode: a full
    # running top-k above every bound decodes nothing and returns nothing
    calls = {"n": 0}
    real = codec.unpack_blocks_bulk

    def counting(blobs, sels):
        calls["n"] += 1
        return real(blobs, sels)

    monkeypatch.setattr(codec, "unpack_blocks_bulk", counting)
    blobs = shards[0]
    [alpha] = kernel_terms(oracle, ["alpha"], blobs)
    assert blobs["alpha"][0] > codec.BLOCK
    got = packed_mod.score_shard(
        [alpha], blobs, 0, oracle.avgdl, oracle.k1, oracle.b, k,
        top_buf=np.full(k, np.inf),
    )
    assert len(got[1]) == 0 and calls["n"] == 0


def test_batch_kernel_decodes_once_and_chunks(monkeypatch):
    """A direct score_shard call over a batch decodes every block of the
    group's blobs exactly once — in ONE codec.decode_varints call while
    they fit one decode slice — and scores the batch in one accumulator
    pass. A budget small enough to force several decode slices and >= 3
    query chunks, and either accumulator (dense or sparse), give
    bit-identical results."""
    from bm25_spark.operators import packed as packed_mod

    oracle, queries = _kernel_corpus()
    blobs = kernel_shards(oracle, 350)[1]
    terms = kernel_terms(oracle, queries * 3, blobs)
    n_blocks = sum(len(blobs[t][2]) for t in {t for tq in terms for _, t in tq})
    calls: dict = {}
    real_decode = codec.decode_varints
    real_bulk = codec.unpack_blocks_bulk
    real_cut = packed_mod._rank_cut

    def decode(*a, **kw):
        calls["decode"] += 1
        return real_decode(*a, **kw)

    def bulk(blobs_, sels):
        calls["blocks"] += sum(len(s_) for s_ in sels)
        return real_bulk(blobs_, sels)

    def cut(*a):
        calls["chunks"] += 1  # one top-k cut per query chunk
        return real_cut(*a)

    monkeypatch.setattr(codec, "decode_varints", decode)
    monkeypatch.setattr(codec, "unpack_blocks_bulk", bulk)
    monkeypatch.setattr(packed_mod, "_rank_cut", cut)
    args = (terms, blobs, 350, oracle.avgdl, oracle.k1, oracle.b, 5)

    def run():
        calls.update(decode=0, blocks=0, chunks=0)
        return packed_mod.score_shard(*args)

    whole = run()
    assert calls == {"decode": 1, "blocks": n_blocks, "chunks": 1}
    assert len(set(whole[0].tolist())) == sum(1 for tq in terms if tq)
    variants = [("_CHUNK_BYTES", 48_000), ("_DENSE_RATIO", 0)]
    variants.append(("_DENSE_RATIO", 1e18))
    for name, value in variants:
        with monkeypatch.context() as m:
            m.setattr(packed_mod, name, value)
            got = run()
        if name == "_CHUNK_BYTES":
            assert calls["chunks"] >= 3 and calls["decode"] >= 2, calls
        assert calls["blocks"] == n_blocks, (name, value)
        for a, b in zip(whole, got):
            assert np.array_equal(a, b), (name, value)


def test_packed_golden_scores(packed_golden):
    for q, expected in GOLDEN.items():
        res = search_packed(packed_golden, [(0, q)], limit=3)
        got = _ranked(res.select("doc_id", "score", "rank"))
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (_, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) < 5e-5


def test_packed_matches_plain_path(packed_synth, synth_oracle):
    queries = [
        "spark query data", "fox dog", "cat cat cat", "table join filter",
        "error retry plan", "value key row column",
    ]
    for q in queries:
        _assert_matches_oracle(packed_synth, synth_oracle, q, limit=20)


def test_packed_filtered_matches_plain(packed_synth, synth_oracle):
    flt = {"role": ["user", "assistant"]}
    _assert_matches_oracle(
        packed_synth, synth_oracle, "spark data", limit=15, flt=flt
    )


def test_pruning_and_cluster_paths_identical(packed_synth):
    """Shard-level block-max pruning and the cluster scorer must both
    return the exact top-k the unpruned driver path returns (safe WAND:
    upper bounds are true bounds, so pruning never changes results).
    packed_synth uses shard_size=64, so queries span many shards."""
    queries = ["spark data query", "cat cat dog", "table scan", "fox"]
    for i, q in enumerate(queries):
        variants = [
            search_packed(packed_synth, [(i, q)], limit=12, prune=True),
            search_packed(packed_synth, [(i, q)], limit=12, prune=False),
            search_packed(packed_synth, [(i, q)], limit=12, force_cluster=True),
        ]
        outs = [
            [(r["doc_id"], r["score"]) for r in v.orderBy("rank").collect()]
            for v in variants
        ]
        assert outs[0] == outs[1] == outs[2], q


def test_filtered_driver_vs_cluster(packed_synth):
    flt = {"role": ["user"]}
    drv = search_packed(packed_synth, [(0, "spark data")], limit=10, flt=flt)
    clu = search_packed(
        packed_synth, [(0, "spark data")], limit=10, flt=flt, force_cluster=True
    )
    a = [(r["doc_id"], r["score"]) for r in drv.orderBy("rank").collect()]
    b = [(r["doc_id"], r["score"]) for r in clu.orderBy("rank").collect()]
    assert a == b


def test_warm_caches_identical_results(packed_synth):
    from bm25_spark.operators.packed import warm_query_caches

    q = "spark data query table"
    before = [(r["doc_id"], round(r["score"], 10)) for r in
              search_packed(packed_synth, [(0, q)], limit=10).orderBy("rank").collect()]
    assert warm_query_caches(packed_synth) is True
    after = [(r["doc_id"], round(r["score"], 10)) for r in
             search_packed(packed_synth, [(0, q)], limit=10).orderBy("rank").collect()]
    assert before == after
    # unknown terms resolve to empty WITHOUT a dictionary probe
    assert search_packed(packed_synth, [(0, "zz_unknown_term")], limit=5).count() == 0


def test_warm_search_wrappers_zero_jobs_rank_ordered(spark, monkeypatch):
    """On a warmed head, ``search``, ``search_in`` and ``search_many``
    launch no Spark job from the call through ``collect()``, and
    ``collect()`` returns rank order there and on the cluster path (whose
    result ends in a local sort), with the same rows on both."""
    from bm25_spark.operators import packed as packed_mod
    from bm25_spark.operators import searcher

    idx = build_index(
        synthetic_transcripts(spark, n_convs=20, seed=11),
        partition_col="role", shard_size=64,
    ).materialize()
    assert packed_mod.warm_query_caches(idx) is True
    q = "spark data query table"
    calls = {
        "search": lambda: searcher.search(idx, q, limit=12),
        "search_in": lambda: searcher.search_in(idx, "user", q, limit=12),
        "search_many": lambda: searcher.search_many(
            idx, ["user", "assistant"], q, limit=12
        ),
    }
    sc = spark.sparkContext
    driver = {}
    for name, call in calls.items():
        sc.setJobGroup(f"warm-{name}", "warm wrapper zero-job assertion")
        try:
            driver[name] = call().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(f"warm-{name}")) == [], name
        ranks = [r["rank"] for r in driver[name]]
        assert ranks == list(range(1, 13)), name
    monkeypatch.setattr(packed_mod, "DRIVER_PATH_MAX_WORK", -1)
    for name, call in calls.items():
        assert call().collect() == driver[name], name
    idx.unpersist()


def test_warm_head_unknown_terms_do_not_grow_cache(packed_synth):
    """A complete dictionary answers "not in the index" itself: distinct
    unknown-term queries, alone or beside a known term, leave a warmed
    head's dictionary entries and cache bytes unchanged."""
    from bm25_spark.operators import packed as packed_mod

    head = dataclasses.replace(packed_synth)
    assert packed_mod.warm_query_caches(head) is True
    cache = packed_mod.query_cache(head)
    before = (len(cache.terms), len(cache.shards), cache.nbytes)
    assert cache.nbytes == cache.recount()
    for i in range(40):
        q = f"zzq{i} qx{i}" if i % 2 else f"spark zzq{i}"
        search_packed(head, [(0, q)], limit=5).collect()
    assert (len(cache.terms), len(cache.shards), cache.nbytes) == before


def test_long_session_cache_bounded_and_exact(packed_synth, synth_oracle, monkeypatch):
    """A lazily probed head (never warmed) under a budget of a few KB
    serves 200+ distinct hot and filtered queries. After every query the
    cache holds at most the budget and exactly the recount of its entries,
    and every answer equals a freshly opened index's and the oracle's."""
    from bm25_spark.operators import packed as packed_mod

    budget = 12 << 10
    monkeypatch.setattr(packed_mod, "CACHE_BYTES", budget)
    hot = sorted(synth_oracle.idf, key=lambda t: synth_oracle.idf[t])[:20]
    texts = [f"{a} {b}" for i, a in enumerate(hot) for b in hot[i + 1 :]]
    texts += [f"{t} zzq{i}" for i, t in enumerate(hot)]
    filters = [None, {"role": ["user"]}, {"role": "assistant"},
               {"role": ["system", "tool"]}, {"tool": ["search", "code"]}]
    session = [(q, filters[i % len(filters)]) for i, q in enumerate(texts)]
    assert len(set((q, repr(f)) for q, f in session)) == len(session) >= 200

    head = dataclasses.replace(packed_synth)
    got, shrank, prev, fullest = [], 0, 0, 0
    for q, flt in session:
        res = search_packed(head, [(0, q)], limit=5, flt=flt)
        got.append(sorted((r["rank"], r["doc_id"], r["score"]) for r in res.collect()))
        cache = packed_mod.query_cache(head)
        assert cache.nbytes <= budget, q
        assert cache.nbytes == cache.recount(), q
        shrank += cache.nbytes < prev
        fullest = max(fullest, cache.nbytes)
        prev = cache.nbytes
    assert shrank > 0, "the budget never evicted: it tests nothing"
    assert fullest > budget // 2, "the cache never filled: it tests nothing"

    fresh = {}
    for flt in filters:
        batch = [(i, q) for i, (q, f) in enumerate(session) if f is flt]
        res = search_packed(dataclasses.replace(packed_synth), batch, limit=5, flt=flt)
        for r in res.collect():
            fresh.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
    for i, (q, flt) in enumerate(session):
        assert got[i] == sorted(fresh.get(i, [])), (q, flt)
        want = synth_oracle.search(q, limit=5, flt=flt)
        assert [d for _, d, _ in got[i]] == [d for d, _ in want], (q, flt)
        for (_, _, gs), (_, ws) in zip(got[i], want):
            assert abs(gs - ws) < 1e-9, (q, flt)


def test_chunked_partial_pack_identical(spark, packed_synth):
    """Forcing the map-side chunk flush (tiny chunk_postings) must produce
    an index with identical search results — multiple partial runs per
    (pk, term, shard) from one task merge to the same postings."""
    df = synthetic_transcripts(spark, n_convs=30, seed=11)
    idx_chunked = build_index(df, shard_size=64, chunk_postings=50)
    for q in ("spark query data", "cat cat cat", "fox dog"):
        a = [(r["doc_id"], round(r["score"], 10)) for r in
             search_packed(packed_synth, [(0, q)], limit=15).orderBy("rank").collect()]
        b = [(r["doc_id"], round(r["score"], 10)) for r in
             search_packed(idx_chunked, [(0, q)], limit=15).orderBy("rank").collect()]
        assert a == b, q


def test_chunked_build_identical_packed_table(spark, packed_synth):
    """Byte-level check: many partial runs per group (tiny chunk) through
    the streaming group-by-group merge must produce the exact same packed
    blobs and block metadata as the single-run build."""
    df = synthetic_transcripts(spark, n_convs=30, seed=11)
    idx_chunked = build_index(df, shard_size=64, chunk_postings=50)

    def snap(idx):
        return sorted(
            (
                r["pk"], r["term"], r["shard"], r["n"], bytes(r["data"]),
                tuple(r["block_last"]), tuple(r["block_max"]),
            )
            for r in idx.packed.collect()
        )

    assert snap(idx_chunked) == snap(packed_synth)


def test_doclens_view_matches_tokenizer(packed_synth):
    """doclens (decoded from the build's sentinel rows — no second tokenize
    pass) agrees with direct tokenization of every document."""
    from bm25_spark.functions.analyzer import tokenize_text

    docs = packed_synth.docs.select("doc_id", "text").collect()
    want = {r["doc_id"]: len(tokenize_text(r["text"])) for r in docs}
    got = {r["doc_id"]: r["dl"] for r in packed_synth.doclens.collect()}
    assert got == want


def test_block_wand_identical_and_active(spark, monkeypatch):
    """Block-granular WAND on a corpus with multi-block blobs (>128
    postings per term-shard) and multiple shards: results are identical to
    the unpruned path, and the selective block decode actually fires."""
    from pyspark.sql import functions as F

    import datetime as dt

    # 1200 docs, 4 shards of 300. 'alpha' lives in 2/3 of docs (200
    # postings per shard -> blocks of 128+72). One tf-40 spike per shard,
    # placed inside block 0, makes block 0's upper bound reach theta while
    # block 1's cannot: later shards must decode block 0 ONLY. Equal spike
    # scores across shards additionally exercise the strict (ub < theta)
    # edges at exact equality.
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(1200):
        if i % 300 == 10:
            txt = "alpha " * 40 + "beta"
        elif i % 3 != 0:
            txt = f"alpha beta w{i % 11}"
        else:
            txt = f"gamma beta w{i % 11}"
        rows.append((f"c{i:05d}", 0, "user", txt, None, t0))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    idx = build_index(df, shard_size=300)
    idx.packed.persist()
    idx.packed.count()
    assert idx.packed.select(F.max(F.size("block_max"))).first()[0] >= 2

    calls = {"n": 0, "blocks": 0}
    real = codec.unpack_blocks_bulk

    def counting(blobs, sels):
        calls["n"] += 1
        calls["blocks"] += sum(len(s) for s in sels)
        return real(blobs, sels)

    monkeypatch.setattr(codec, "unpack_blocks_bulk", counting)
    # every decode goes through unpack_blocks_bulk, so the call count alone
    # does not show pruning: the last shard visited (theta = the spike
    # score by then) must skip its block 1
    search_packed(idx, [(0, "alpha")], limit=3, prune=True).collect()
    n_alpha_blocks = (
        idx.packed.filter(F.col("term") == "alpha")
        .select(F.sum(F.size("block_max")))
        .first()[0]
    )
    assert 0 < calls["blocks"] < n_alpha_blocks, calls
    queries = [(0, "alpha"), (1, "alpha beta"), (2, "gamma w3")]
    for limit in (3, 10):
        a = search_packed(idx, queries, limit=limit, prune=True).collect()
        b = search_packed(idx, queries, limit=limit, prune=False).collect()
        c = search_packed(
            idx, queries, limit=limit, force_cluster=True
        ).collect()

        def key(r):
            return (r["query_id"], r["rank"], r["doc_id"],
                    round(r["score"], 9))

        assert sorted(map(key, a)) == sorted(map(key, b)), limit
        assert sorted(map(key, a)) == sorted(map(key, c)), limit
    assert calls["n"] > 0, "block-level decode pruning never activated"
    idx.packed.unpersist()


def test_fetch_pruning_skips_ruled_out_shards(spark, monkeypatch):
    """Shard-level WAND must prune the blob FETCH, not just the decode:
    with one shard dominating the upper bounds, later shards' blobs are
    never collected from the index at all."""
    import datetime as dt

    from bm25_spark.operators import packed as packed_mod

    # 8 shards of 100 docs. 'needle' appears tf=30 in every doc of shard 0
    # and tf=1 in exactly one doc of every other shard: shard 0's upper
    # bound dwarfs the rest, so after scoring it theta beats every other
    # shard's bound and their blobs must not be fetched.
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(800):
        if i < 100:
            txt = "needle " * 30 + f"w{i % 7}"
        elif i % 100 == 50:
            txt = f"needle w{i % 7}"
        else:
            txt = f"hay w{i % 7}"
        rows.append((f"c{i:05d}", 0, "user", txt, None, t0))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    idx = build_index(df, shard_size=100)
    idx.packed.persist()
    idx.packed.count()

    fetched: set = set()
    real_fetch = packed_mod._fetch_raw_blobs

    def recording(index, wanted):
        fetched.update(wanted)
        return real_fetch(index, wanted)

    monkeypatch.setattr(packed_mod, "_fetch_raw_blobs", recording)
    res = search_packed(idx, [(0, "needle")], limit=5, prune=True)
    top = [(r["doc_id"], round(r["score"], 10)) for r in res.orderBy("rank").collect()]
    # snapshot BEFORE the unpruned comparison run (which fetches all)
    shards_fetched = {s for _, _, s in fetched}
    unpruned = search_packed(idx, [(0, "needle")], limit=5, prune=False)
    assert top == [
        (r["doc_id"], round(r["score"], 10))
        for r in unpruned.orderBy("rank").collect()
    ]
    assert 0 in shards_fetched
    assert len(shards_fetched) < 8, (
        "pruned shards were still fetched: %s" % sorted(shards_fetched)
    )
    idx.packed.unpersist()


def test_packed_batch_and_empty(packed_synth):
    res = search_packed(packed_synth, [(0, "spark"), (1, ""), (2, "zzqq")], limit=5)
    rows = res.collect()
    assert {r["query_id"] for r in rows} == {0}
    assert search_packed(packed_synth, [(0, "  ")], limit=5).count() == 0


def test_in_list_matches_isin(spark, tmp_path):
    """The one-call probe predicate selects exactly what Column.isin does
    for strings that need escaping, ints and the empty list, and still
    pushes into the parquet scan."""
    from pyspark.sql import functions as F

    from bm25_spark.operators.packed import _in_list

    vals = ["it's", "a\\b", "back\\", "\\'", "q''q", "\\u0041", "x\ny", "ünï"]
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals + ["other", "A", "plain"])],
        "term string, shard int",
    ).write.parquet(path)
    t = spark.read.parquet(path)
    for col, want in (("term", vals), ("shard", [0, 3, 9]), ("term", [])):
        got = t.filter(_in_list(col, want)).collect()
        assert sorted(got) == sorted(t.filter(F.col(col).isin(want)).collect())
    probe = t.filter(_in_list("term", vals))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[.*In\(term, ", plan), plan


def test_dispatch_bounds_per_query_work(packed_synth, monkeypatch):
    """Driver-path dispatch must bound PER-QUERY scoring work (Q x df),
    not just the shared fetch volume: a large-Q batch of hot terms would
    otherwise serialize single-threaded on the driver. Identical results
    on both routes; route observed via cluster_stats population."""
    from bm25_spark.operators import packed as packed_mod

    queries = [(q, "spark stream data") for q in range(6)]

    stats: dict = {}
    auto = search_packed(packed_synth, queries, limit=5, cluster_stats=stats)
    got_driver = {
        (r["query_id"], r["rank"], r["doc_id"]) for r in auto.collect()
    }
    assert stats == {}  # small work: the driver path served it

    # shrink the work bound: the same batch must route to the cluster
    monkeypatch.setattr(packed_mod, "DRIVER_PATH_MAX_WORK", 1)
    stats = {}
    routed = search_packed(
        packed_synth, queries, limit=5, cluster_stats=stats
    )
    got_cluster = {
        (r["query_id"], r["rank"], r["doc_id"]) for r in routed.collect()
    }
    assert stats.get("n_score_groups", 0) >= 1  # cluster path ran
    assert got_cluster == got_driver

    # a single query under the same tiny work bound also goes cluster,
    # while the FETCH bound alone (df sum) would have kept it on the
    # driver — the two bounds are independent
    stats = {}
    one = search_packed(
        packed_synth, [(0, "spark stream data")], limit=5,
        cluster_stats=stats,
    )
    assert stats.get("n_score_groups", 0) >= 1
    assert {
        (r["query_id"], r["rank"], r["doc_id"]) for r in one.collect()
    } == {x for x in got_driver if x[0] == 0}


def test_cluster_batch_skew_rows_bounded(spark, tmp_path):
    """Zipf-hot term + filter across >=4 shards x >=2 query buckets: the
    bucket fan-out's replication cap (packed._cluster_scored) must hold in
    the PHYSICAL joined rows, not just the docstring — each blob row is
    shipped at most min(n_buckets, queries-using-its-term) times, and one
    group never receives more blob rows than the batch's distinct terms
    (i.e. per-group input is O(terms), independent of Q and N). The
    scorer must also run as exactly its planned number of Spark tasks
    (AQE must not coalesce the small blob shuffle into one serial Python
    task, and no scoring partition may be left empty) behind a single
    pass-through Exchange, one scorer call per group, with the term
    probe pushed into the parquet scan."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(320):  # 5 shards at shard_size=64
        # 'hotterm' in EVERY doc (Zipf head); each doc adds rare tails
        text = f"hotterm filler{i % 17} rare{i} tail{i % 53}"
        rows.append(
            ("skew", i, "user" if i % 2 else "assistant", text, None,
             t0 + dt.timedelta(seconds=i))
        )
    from bm25_spark.sources.datagen import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    idx = build_index(df, shard_size=64)
    idx.packed.persist().count()

    # 12 queries, every one hitting the hot term (worst-case skew)
    queries = [(q, f"hotterm rare{q * 7} filler{q % 17}") for q in range(12)]
    stats: dict = {}
    res = search_packed(
        idx, queries, limit=5, flt={"role": ["user"]},
        force_cluster=True, cluster_stats=stats,
    )
    got = {(r["query_id"], r["doc_id"]) for r in res.collect()}

    assert stats["n_buckets"] >= 2
    assert stats["n_score_groups"] >= 4 * 2  # shards x buckets used
    # hot blob ships once per BUCKET, never once per query
    assert stats["max_term_replication"] <= stats["n_buckets"]
    assert stats["max_term_replication"] < len(queries)
    n_terms = len({t for _, q in queries for t in q.split()})
    assert stats["max_task_rows"] <= n_terms
    # total shuffle volume: <= blobs * n_buckets (the cap), far under Q
    n_blobs = idx.packed.count()
    assert stats["total_joined_rows"] <= n_blobs * stats["n_buckets"]

    # and the instrumented run is still correct vs the driver path
    drv = search_packed(idx, queries, limit=5, flt={"role": ["user"]})
    want = {(r["query_id"], r["doc_id"]) for r in drv.collect()}
    assert got == want

    # physical task shape on the persisted index (the parquet scan is
    # where the term predicate must push down)
    from pyspark.sql import functions as F

    from bm25_spark.operators import packed as packed_mod
    from bm25_spark.operators.indexer import read_index, write_index

    write_index(idx, str(tmp_path / "idx"))
    loaded = read_index(spark, str(tmp_path / "idx"))
    planned: dict = {}
    scored = packed_mod._cluster_scored(
        loaded, packed_mod._qrows(loaded, queries, None), None, None, 5,
        stats=planned,
    ).withColumn("part", F.spark_partition_id())
    parts = {r["part"] for r in scored.collect()}
    assert planned["n_score_tasks"] > 1
    assert len(parts) == planned["n_score_tasks"], parts
    plan = scored._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the final adaptive plan
    below = plan[plan.index("FlatMapGroupsInPandas"):]
    exchanges = re.findall(r"(?<!Broadcast)Exchange (\w+)", below)
    assert exchanges == ["shufflepartitionidpassthrough"], plan
    # one scorer call per (pk, shard, qb) group, not per task
    assert re.search(
        r"FlatMapGroupsInPandas \[task#\d+, pk#\d+, shard#\d+, qb#\d+\]", plan
    ), plan
    assert re.search(r"PushedFilters: \[.*In\(term, ", plan), plan
    idx.packed.unpersist()


def test_cluster_tasks_deal_groups_evenly(spark):
    """The cluster scorer deals its (pk, shard, bucket) groups round-robin
    to one task per core: on a role-partitioned index whose pks interleave
    over every shard, each task scores floor or ceil of G / T groups (no
    pk's shard 0 piles onto task 0), and the rows equal the driver
    path's."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bm25_spark.operators import packed as packed_mod
    from bm25_spark.sources.datagen import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2026, 1, 1)
    roles = ("user", "assistant", "tool")
    rows = [
        ("bal", i, roles[i % 3], f"hotterm filler{i % 13} rare{i}", None,
         t0 + dt.timedelta(seconds=i))
        for i in range(336)
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    shard_size = 16
    idx = build_index(df, shard_size=shard_size, partition_col="role")
    idx.packed.persist().count()
    queries = [(q, f"hotterm rare{q * 5} filler{q % 13}") for q in range(10)]

    stats: dict = {}
    scored = packed_mod._cluster_scored(
        idx, packed_mod._qrows(idx, queries, None), None, None, 10,
        stats=stats,
    ).withColumn("part", F.spark_partition_id())
    n_buckets, n_tasks = stats["n_buckets"], stats["n_score_tasks"]
    assert n_tasks == spark.sparkContext.defaultParallelism
    # hotterm is in every doc: every (pk, shard, bucket) group scores rows
    qids = sorted(q for q, _ in queries)
    qb = {qid: i % n_buckets for i, qid in enumerate(qids)}
    task_of: dict = {}
    for r in scored.collect():
        key = (r["pk"], r["doc_id"] // shard_size, qb[r["query_id"]])
        assert task_of.setdefault(key, r["part"]) == r["part"], key
    n_groups = len(task_of)
    assert n_groups == stats["n_score_groups"] >= 2 * n_tasks
    per_task = [list(task_of.values()).count(t) for t in range(n_tasks)]
    fair = {n_groups // n_tasks, -(-n_groups // n_tasks)}
    assert set(per_task) <= fair, per_task

    def ranked(res):
        return sorted(
            (r["query_id"], r["rank"], r["pk"], r["doc_id"], r["score"])
            for r in res.collect()
        )

    clu = search_packed(idx, queries, limit=10, force_cluster=True)
    drv = search_packed(idx, queries, limit=10)
    assert ranked(clu) == ranked(drv)
    idx.packed.unpersist()
