"""End-to-end Spark engine tests: golden scores, oracle parity, filters,
partitioned indices, doc-id determinism."""

import pytest
from pyspark.sql import functions as F

from bm25_spark.operators.docids import assign_doc_ids
from bm25_spark.operators.indexer import build_index
from bm25_spark.operators import searcher
from bm25_spark.oracle import OracleBM25, OraclePartitionedBM25
from bm25_spark.sources.datagen import (
    GOLDEN_TEXTS,
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
def golden_index(spark):
    idx = build_index(golden_transcripts(spark)).materialize()
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def synth(spark):
    df = synthetic_transcripts(spark, n_convs=40, seed=7)
    rows = df.orderBy("conv_id", "turn_idx").collect()
    return df, rows


@pytest.fixture(scope="module")
def synth_index(spark, synth):
    df, _ = synth
    idx = build_index(df, shard_size=64).materialize()  # tiny shards: exercise sharding
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def synth_oracle(synth):
    _, rows = synth
    return OracleBM25(transcripts_rows_for_oracle(rows), index_fields=["role", "tool", "conv_id"])


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.orderBy("rank").collect()]


def test_golden_end_to_end(golden_index):
    for q, expected in GOLDEN.items():
        got = _ranked(searcher.search(golden_index, q, limit=3))
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) < 5e-5, (q, gd, gs, es)


def test_docid_assignment_matches_window(spark, synth):
    df, _ = synth
    b = assign_doc_ids(df, method="window").select("conv_id", "turn_idx", "doc_id")
    n = df.count()
    for method in ("sample",):
        a = assign_doc_ids(df, method=method).select(
            "conv_id", "turn_idx", "doc_id"
        )
        diff = a.join(b, ["conv_id", "turn_idx"]).filter(
            a["doc_id"] != b["doc_id"]
        )
        assert diff.count() == 0, method
        ids = [r[0] for r in a.select("doc_id").collect()]
        assert sorted(ids) == list(range(n)), method


def test_docid_sample_handles_nul_in_keys(spark):
    """Adversarial order keys: embedded NUL bytes. The sample path's byte
    encoding must stay order-preserving — e.g. Spark ranks ('a\\x00','b')
    ABOVE ('a','\\x01'), so a plain NUL terminator (which encodes the
    former smaller) would misorder bucket assignment vs the
    sortWithinPartitions order and emit non-rank doc_ids."""
    rows = [
        ("a\x00", 0), ("a", 0), ("a\x00a", 1), ("a\x01", 2), ("a", 1),
        ("b\x00\x00", 0), ("b", 5), ("", 0), ("\x00", 0), ("\x00\x00", 3),
    ] + [(f"c{i % 7}\x00tail{i}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    want = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in assign_doc_ids(df, method="window").collect()
    }
    got = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in assign_doc_ids(
            df, method="sample", num_partitions=8
        ).collect()
    }
    assert got == want


def test_engine_matches_oracle_on_synthetic(synth_index, synth_oracle):
    queries = [
        "spark query", "fox", "data table join", "cat cat cat", "cat",
        "the", "unknownzzz", "", "   ", "MiXeD case", "café wörld",
        "привет мир", "under_score test123", "duplicate turn text",
        "spark spark spark", "error retry plan answer",
    ]
    for q in queries:
        want = synth_oracle.search(q, limit=10)
        got = _ranked(searcher.search(synth_index, q, limit=10))
        assert len(got) == len(want), q
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (q, gd, gs, wd, ws)
        # rank-identity modulo equal-score ties: compare by score groups
        assert [d for d, _ in got] == [d for d, _ in want], q


def test_filters_match_oracle(synth_index, synth_oracle):
    cases = [
        {"role": "user"},
        {"role": ["user", "assistant"]},
        {"tool": "search"},
        {"role": "assistant", "tool": ["code", "search"]},
        {"role": "nonexistent-role"},
    ]
    for flt in cases:
        want = synth_oracle.search("spark data", limit=10, flt=flt)
        got = _ranked(searcher.search(synth_index, "spark data", limit=10, flt=flt))
        assert [d for d, _ in got] == [d for d, _ in want], flt
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9


def test_filter_unindexed_field_raises(synth_index):
    with pytest.raises(ValueError):
        searcher.search(synth_index, "spark", flt={"lang": "en"})


def test_list_valued_metadata_filter(spark, synth):
    """Engine-side list-valued metadata: the reference indexes list meta
    per element (bm25.dart:487-493; test/bm25_test.dart:706-752) — a
    filter value matches if it appears ANYWHERE in the doc's list. Build
    an index over an array<string> column and cross-check the full search
    path (packed driver AND cluster scorer) against the pure-Python
    oracle's list-meta handling."""
    df, rows = synth
    tagged = df.withColumn(
        "tags", F.array(F.col("role"), F.concat(F.lit("t_"), F.col("tool")))
    )
    idx = build_index(
        tagged, index_fields=("role", "tool", "tags"), shard_size=64
    ).materialize()
    try:
        texts = []
        for r in rows:
            texts.append(
                (
                    r["text"],
                    {
                        "role": r["role"],
                        "tool": r["tool"],
                        "tags": [r["role"], f"t_{r['tool']}"],
                    },
                )
            )
        oracle = OracleBM25(texts, index_fields=["role", "tool", "tags"])
        cases = [
            {"tags": "user"},                      # scalar vs array field
            {"tags": ["user", "t_search"]},        # union within field
            {"tags": ["t_code"], "role": "assistant"},  # intersect across
            {"tags": "no-such-tag"},               # empty result
        ]
        from bm25_spark.operators.packed import search_packed

        for flt in cases:
            want = oracle.search("spark data", limit=10, flt=flt)
            got = _ranked(searcher.search(idx, "spark data", limit=10, flt=flt))
            assert [d for d, _ in got] == [d for d, _ in want], flt
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9
            clus = search_packed(
                idx, [(0, "spark data")], limit=10, flt=flt, force_cluster=True
            )
            got_c = [(r["doc_id"], r["score"]) for r in clus.orderBy("rank").collect()]
            assert [d for d, _ in got_c] == [d for d, _ in want], flt
    finally:
        idx.unpersist()


def test_limit_and_empty(golden_index):
    assert searcher.search(golden_index, "dog", limit=1).count() == 1
    assert searcher.search(golden_index, "", limit=3).count() == 0
    assert searcher.search(golden_index, "zzzzqq", limit=3).count() == 0
    with pytest.raises(ValueError):
        searcher.search(golden_index, "dog", limit=0)


def test_empty_corpus_raises(spark):
    """Reference parity: BM25.build throws on an empty corpus
    (bm25.dart:163-169)."""
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    with pytest.raises(ValueError, match="empty corpus"):
        build_index(empty)


def test_stopwords_engine(spark):
    stops = {"the", "and", "a", "an", "or", "but"}
    idx = build_index(golden_transcripts(spark), stopwords=stops)
    assert searcher.search(idx, "the", limit=3).count() == 0
    oracle = OracleBM25(GOLDEN_TEXTS, stopwords=stops)
    want = oracle.search("lazy dog", limit=3)
    got = _ranked(searcher.search(idx, "lazy dog", limit=3))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_partitioned_index(spark, synth):
    df, rows = synth
    idx = build_index(df, partition_col="role", shard_size=64).materialize()
    oracle = OraclePartitionedBM25(
        transcripts_rows_for_oracle(rows), lambda t, m: m["role"]
    )
    try:
        # per-partition stats: search_in
        for key in ["user", "assistant"]:
            want = oracle.search_in(key, "spark data query", limit=10)
            got = searcher.search_in(idx, key, "spark data query", limit=10)
            got_rows = [(r["doc_id"], r["score"]) for r in got.collect()]
            # oracle returns global ids; map engine doc_ids -> compare scores
            assert len(got_rows) == len(want), key
            for (gd, gs), (wd, ws) in zip(got_rows, want):
                assert abs(gs - ws) < 1e-9, (key, gd, wd)
        # unknown partition -> empty
        assert searcher.search_in(idx, "zzz", "spark").count() == 0
        # searchMany quirk: per-partition cap 10 before global merge
        want = oracle.search_many(["user", "assistant"], "spark data", limit=15)
        got = searcher.search_many(idx, ["user", "assistant"], "spark data", limit=15)
        got_scores = sorted((round(s, 9) for _, s in
                             [(r["doc_id"], r["score"]) for r in got.collect()]), reverse=True)
        want_scores = sorted((round(s, 9) for _, s in want), reverse=True)
        assert got_scores == want_scores
    finally:
        idx.unpersist()


def test_partitioned_docids_are_global(spark, synth):
    """Engine doc_ids are global ranks; oracle partitioned ids map through
    global_ids — verify the engine's search_in doc_ids match the oracle's
    mapped global ids (not just scores)."""
    df, rows = synth
    idx = build_index(df, partition_col="role", shard_size=64)
    oracle = OraclePartitionedBM25(
        transcripts_rows_for_oracle(rows), lambda t, m: m["role"]
    )
    want = oracle.search_in("user", "spark data query", limit=10)
    got = searcher.search_in(idx, "user", "spark data query", limit=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
