"""Packed index (delta+varint blobs + the shared per-shard scoring kernel)
must be rank- and score-identical to the oracle on both the driver and the
cluster path, and the two paths bit-identical to each other."""

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
    real = codec.unpack_blocks

    def counting(*a, **kw):
        calls["n"] += 1
        calls["blocks"] += len(a[5])
        return real(*a, **kw)

    monkeypatch.setattr(codec, "unpack_blocks", counting)
    # every decode goes through unpack_blocks, so the call count alone no
    # longer shows pruning: on a cold block cache, the last shard visited
    # (theta = the spike score by then) must skip its block 1
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
    assert stats.get("n_tasks", 0) >= 1  # cluster path ran
    assert got_cluster == got_driver

    # a single query under the same tiny work bound also goes cluster,
    # while the FETCH bound alone (df sum) would have kept it on the
    # driver — the two bounds are independent
    stats = {}
    one = search_packed(
        packed_synth, [(0, "spark stream data")], limit=5,
        cluster_stats=stats,
    )
    assert stats.get("n_tasks", 0) >= 1
    assert {
        (r["query_id"], r["rank"], r["doc_id"]) for r in one.collect()
    } == {x for x in got_driver if x[0] == 0}


def test_cluster_batch_skew_rows_bounded(spark):
    """Zipf-hot term + filter across >=4 shards x >=2 query buckets: the
    bucket fan-out's replication cap (packed._cluster_scored) must hold in
    the PHYSICAL joined rows, not just the docstring — each blob row is
    shipped at most min(n_buckets, queries-using-its-term) times, and one
    task never receives more blob rows than the batch's distinct terms
    (i.e. per-task input is O(terms), independent of Q and N)."""
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
    assert stats["n_tasks"] >= 4 * 2  # shards x buckets actually used
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
    idx.packed.unpersist()
