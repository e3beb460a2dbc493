"""Resumable checkpointed builds + streaming segment ingest."""

import json
import os

import pytest
from pyspark.sql import functions as F

from bm25_spark.operators import searcher
from bm25_spark.operators.indexer import build_index, read_index
from bm25_spark.plans import checkpoint
from bm25_spark.sources.datagen import (
    TRANSCRIPT_SCHEMA,
    synthetic_transcripts,
)
from bm25_spark.streaming import ingest


def test_checkpointed_build_and_resume(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=12, seed=3)
    root = str(tmp_path / "idx")
    s1 = checkpoint.checkpointed_build(df, root, partition_col="role")
    assert s1["partitions_built"] == s1["partitions_total"] > 0
    assert s1["partitions_skipped"] == 0
    # P partitions build in ONE batched Spark job, not P serial passes
    assert s1["build_jobs"] == 1
    # manifests carry metrics
    mdir = os.path.join(root, "_manifests")
    m = json.load(open(os.path.join(mdir, sorted(os.listdir(mdir))[0])))
    assert m["status"] == "done" and m["metrics"]["docs_rows"] > 0

    # resume: everything skipped
    s2 = checkpoint.checkpointed_build(df, root, partition_col="role")
    assert s2["partitions_built"] == 0
    assert s2["partitions_skipped"] == s1["partitions_total"]

    # delete one manifest -> only that partition rebuilds
    victim = sorted(os.listdir(mdir))[0]
    os.remove(os.path.join(mdir, victim))
    s3 = checkpoint.checkpointed_build(df, root, partition_col="role")
    assert s3["partitions_built"] == 1 and s3["build_jobs"] == 1

    # small pks_per_job batches the work without changing the result
    root2 = str(tmp_path / "idx2")
    s4 = checkpoint.checkpointed_build(
        df, root2, partition_col="role", pks_per_job=1
    )
    assert s4["build_jobs"] == s4["partitions_built"] == s1["partitions_total"]

    # the reloaded indexes (batched AND per-pk jobs) answer partition-scoped
    # queries like a fresh build
    idx = read_index(spark, root)
    idx2 = read_index(spark, root2)
    fresh = build_index(df, partition_col="role")
    for key in ["user", "assistant"]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_in(idx, key, "spark data query", 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_in(fresh, key, "spark data query", 10).collect()]
        c = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_in(idx2, key, "spark data query", 10).collect()]
        assert a == b == c


def test_stream_ingest_and_compact(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=10, seed=9)
    inp = str(tmp_path / "in")
    root = str(tmp_path / "stream_idx")
    # two file drops = two micro-batches under availableNow
    half1 = df.filter(F.col("conv_id") < "conv-000005")
    half2 = df.subtract(half1)
    half1.write.mode("overwrite").parquet(inp)
    ingest.stream_ingest(spark, inp, root, TRANSCRIPT_SCHEMA)
    half2.write.mode("append").parquet(inp)
    ingest.stream_ingest(spark, inp, root, TRANSCRIPT_SCHEMA)

    idx = ingest.compact_segments(spark, root)
    n = idx.docs.count()
    assert n == df.count()
    # dense, unique global doc_ids across segments
    ids = [r[0] for r in idx.docs.select("doc_id").collect()]
    assert sorted(ids) == list(range(n))
    # compacted index answers queries with global stats == batch build over
    # the same rows (doc_ids differ only by segment ordering, so compare
    # score multisets)
    batch_idx = build_index(df)
    a = sorted(round(r["score"], 9) for r in
               searcher.search(idx, "spark data query", 10).collect())
    b = sorted(round(r["score"], 9) for r in
               searcher.search(batch_idx, "spark data query", 10).collect())
    assert a == b
    # O(1) offset manifest recorded one entry per non-empty micro-batch
    import json
    with open(str(tmp_path / "stream_idx" / "segments" / "_offsets.json")) as f:
        man = json.load(f)
    assert sum(v["n"] for v in man.values()) == n
    offsets = sorted((v["offset"], v["n"]) for v in man.values())
    acc = 0
    for off, cnt in offsets:
        assert off == acc
        acc += cnt


def _packed_snap(idx):
    return sorted(
        (
            r["pk"], r["term"], r["shard"], r["n"], bytes(r["data"]),
            tuple(r["block_last"]), tuple(r["block_max"]),
            tuple(r["block_off"]),
        )
        for r in idx.packed.collect()
    )


def test_merge_indexes_byte_identical_to_full_build(spark):
    """Lucene-style segment merge (no re-tokenize) produces the exact same
    packed table and stats as a from-scratch build over the union."""
    from pyspark.sql import functions as F

    from bm25_spark.operators.indexer import merge_indexes

    df = synthetic_transcripts(spark, n_convs=24, seed=13)
    from bm25_spark.operators.docids import assign_doc_ids

    with_ids = assign_doc_ids(df)
    full = build_index(with_ids, id_col="doc_id", shard_size=64)
    parts = [
        with_ids.filter((F.col("doc_id") >= 0) & (F.col("doc_id") < 100)),
        with_ids.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)),
        with_ids.filter(F.col("doc_id") >= 200),
    ]
    segs = [
        build_index(p, id_col="doc_id", shard_size=64, check_empty=False)
        for p in parts
    ]
    merged = merge_indexes(segs)
    assert _packed_snap(merged) == _packed_snap(full)
    a = sorted(tuple(r) for r in merged.stats.collect())
    b = sorted(tuple(r) for r in full.stats.collect())
    assert a == b
    assert merged.doclens.count() == full.doclens.count()


def test_merge_after_warm_serves_fresh_postings(spark):
    """Cache-coherence contract (BM25Index.invalidate_caches): warming a
    segment's driver caches must not leak stale postings/stats into the
    merged index (a NEW object, fresh caches), and an in-place rebind of
    ``packed`` followed by invalidate_caches() re-probes everything."""
    from pyspark.sql import functions as F

    from bm25_spark.operators.docids import assign_doc_ids
    from bm25_spark.operators.indexer import merge_indexes
    from bm25_spark.operators.packed import search_packed, warm_query_caches

    df = synthetic_transcripts(spark, n_convs=24, seed=13)
    # cached ids and materialized full/merged indexes: every ranking below
    # probes them lazily, and unpersisted each probe re-ran the builds
    with_ids = assign_doc_ids(df).cache()
    full = build_index(with_ids, id_col="doc_id", shard_size=64).materialize()
    seg_a = build_index(
        with_ids.filter(F.col("doc_id") < 150), id_col="doc_id",
        shard_size=64, check_empty=False,
    )
    seg_b = build_index(
        with_ids.filter(F.col("doc_id") >= 150), id_col="doc_id",
        shard_size=64, check_empty=False,
    )
    assert warm_query_caches(seg_a) is True

    def ranked(idx, q):
        return [
            (r["doc_id"], round(r["score"], 10))
            for r in search_packed(idx, [(0, q)], limit=15)
            .orderBy("rank").collect()
        ]

    merged = merge_indexes([seg_a, seg_b]).materialize()
    for q in ("spark query data", "fox dog", "table join"):
        got = ranked(merged, q)
        want = ranked(full, q)
        assert got == want, q
        # the merged ranking must differ from the stale segment view for
        # at least one query below — asserted after the loop
    assert any(
        ranked(seg_a, q) != ranked(full, q)
        for q in ("spark query data", "fox dog", "table join")
    ), "test corpus split produced identical segment/full rankings"

    # in-place rebind: seg_a's caches are warm; swapping its packed table
    # for the merged one then invalidating must serve the MERGED postings
    seg_a.packed = merged.packed
    seg_a.stats = merged.stats
    seg_a.terms = merged.terms
    seg_a.docs = merged.docs
    seg_a.invalidate_caches()
    assert ranked(seg_a, "spark query data") == ranked(full, "spark query data")
    for idx in (full, merged):
        idx.unpersist()
    with_ids.unpersist()


def test_merge_indexes_partitioned(spark, tmp_path):
    """Segment merge preserves per-pk statistics: merging two doc-range
    segments of a role-partitioned corpus equals the full partitioned
    build (packed bytes + per-pk stats), via independently persisted
    segment indexes (the real usage shape)."""
    from bm25_spark.operators.docids import assign_doc_ids
    from bm25_spark.operators.indexer import (
        merge_indexes,
        read_index,
        write_index,
    )

    df = synthetic_transcripts(spark, n_convs=16, seed=21)
    with_ids = assign_doc_ids(df)
    full = build_index(
        with_ids, id_col="doc_id", partition_col="role", shard_size=64
    )
    cut = with_ids.count() // 2
    seg_dirs = []
    for i, part in enumerate(
        (
            with_ids.filter(F.col("doc_id") < cut),
            with_ids.filter(F.col("doc_id") >= cut),
        )
    ):
        idx = build_index(
            part, id_col="doc_id", partition_col="role", shard_size=64,
            check_empty=False,
        )
        root = str(tmp_path / f"seg{i}")
        write_index(idx, root)
        seg_dirs.append(root)
    merged = merge_indexes([read_index(spark, r) for r in seg_dirs])
    assert _packed_snap(merged) == _packed_snap(full)
    a = sorted((r["pk"], r["n_docs"], round(r["avgdl"], 9))
               for r in merged.stats.collect())
    b = sorted((r["pk"], r["n_docs"], round(r["avgdl"], 9))
               for r in full.stats.collect())
    assert a == b


def test_incremental_compaction_matches_rebuild(spark, tmp_path):
    """stream_ingest(build_segment_index=True) + compact(incremental=True)
    never re-tokenizes, yet equals the tokenize-everything compaction."""
    df = synthetic_transcripts(spark, n_convs=10, seed=9)
    inp = str(tmp_path / "in")
    root = str(tmp_path / "stream_inc")
    half1 = df.filter(F.col("conv_id") < "conv-000005")
    half2 = df.subtract(half1)
    half1.write.mode("overwrite").parquet(inp)
    ingest.stream_ingest(
        spark, inp, root, TRANSCRIPT_SCHEMA,
        build_segment_index=True, shard_size=64,
    )
    half2.write.mode("append").parquet(inp)
    ingest.stream_ingest(
        spark, inp, root, TRANSCRIPT_SCHEMA,
        build_segment_index=True, shard_size=64,
    )
    merged = ingest.compact_segments(spark, root, incremental=True)
    rebuilt = ingest.compact_segments(spark, root, shard_size=64)
    assert _packed_snap(merged) == _packed_snap(rebuilt)
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search(merged, "spark data query", 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search(rebuilt, "spark data query", 10).collect()]
    assert a == b


def test_stream_ingest_root_resumes_from_another_cwd(spark, roots, tmp_path):
    """A second stream_ingest run on the same root and stream checkpoint,
    started from another working directory, continues the doc-id
    offsets: ids stay distinct and dense, and incremental compaction
    equals the rebuild."""
    df = synthetic_transcripts(spark, n_convs=10, seed=9)
    inp = str(tmp_path / "in")
    root = roots("stream")
    half1 = df.filter(F.col("conv_id") < "conv-000005")
    half1.write.parquet(inp)
    kw = dict(build_segment_index=True, shard_size=64)
    ingest.stream_ingest(spark, inp, root, TRANSCRIPT_SCHEMA, **kw)
    df.subtract(half1).write.mode("append").parquet(inp)
    roots.chdir("cwd1")
    ingest.stream_ingest(spark, inp, root, TRANSCRIPT_SCHEMA, **kw)
    rebuilt = ingest.compact_segments(spark, root, shard_size=64)
    ids = sorted(r[0] for r in rebuilt.docs.select("doc_id").collect())
    assert ids == list(range(df.count()))
    merged = ingest.compact_segments(spark, root, incremental=True)
    assert _packed_snap(merged) == _packed_snap(rebuilt)


def test_checkpointed_root_resumes_from_another_cwd(spark, roots):
    """A checkpointed_build resumed from another working directory finds
    every manifest and skips every pk; read_index of the root answers
    like a fresh build."""
    df = synthetic_transcripts(spark, n_convs=12, seed=3)
    root = roots("ck")
    s1 = checkpoint.checkpointed_build(df, root, partition_col="role")
    roots.chdir("cwd1")
    s2 = checkpoint.checkpointed_build(df, root, partition_col="role")
    assert s2["partitions_built"] == 0
    assert s2["partitions_skipped"] == s1["partitions_total"] > 0
    idx = read_index(spark, root)
    fresh = build_index(df, partition_col="role")
    for key in ["user", "assistant"]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_in(idx, key, "spark data query", 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_in(fresh, key, "spark data query", 10).collect()]
        assert a == b


def test_stream_ingest_stopwords_reach_compaction(spark, tmp_path):
    """Stopwords given at ingest time are recorded in ingest_meta.json and
    applied by compact_segments (regression: they were silently dropped)."""
    df = synthetic_transcripts(spark, n_convs=6, seed=9)
    inp = str(tmp_path / "in")
    root = str(tmp_path / "stream_idx_sw")
    df.write.mode("overwrite").parquet(inp)
    ingest.stream_ingest(
        spark, inp, root, TRANSCRIPT_SCHEMA, stopwords=("data", "spark")
    )
    idx = ingest.compact_segments(spark, root)
    assert idx.stopwords == frozenset({"data", "spark"})
    terms = {r["term"] for r in idx.terms.collect()}
    assert "data" not in terms and "spark" not in terms
    # explicit override still wins
    idx2 = ingest.compact_segments(spark, root, stopwords=("data",))
    terms2 = {r["term"] for r in idx2.terms.collect()}
    assert "spark" in terms2 and "data" not in terms2
