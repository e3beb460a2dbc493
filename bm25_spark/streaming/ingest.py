"""Incremental index ingestion via Structured Streaming.

Lucene-style segment model: each micro-batch lands a raw doc segment with
stable global doc_ids under ``root/segments/``; a compaction step merges
all segments into a normal BM25Index with GLOBAL df/idf/avgdl
(per-segment stats are never mixed — BM25 stats must be corpus-wide, so
query-serving always happens against a compacted view).

- ``stream_ingest``: readStream (file source; any streaming source works)
  -> foreachBatch -> segment append. foreachBatch runs sequentially per
  micro-batch, so the doc_id offset (max existing id + 1, dense within
  batch by (conv_id, turn_idx)) is race-free. Exactly-once via the
  streaming checkpoint + idempotent overwrite of segment=<batch_id>.
- ``compact_segments``: segments -> BM25Index (one shuffle per index table,
  same plan as a batch build).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25_spark.operators.docids import assign_doc_ids


def _segment_path(root: str, batch_id: int) -> str:
    return os.path.join(root, "segments", f"segment={batch_id}")


def _offsets_path(root: str) -> str:
    return os.path.join(root, "segments", "_offsets.json")


def _meta_path(root: str) -> str:
    return os.path.join(root, "ingest_meta.json")


def _load_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def _store_json(obj: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _segment_index_path(root: str, batch_id: int) -> str:
    return os.path.join(root, "segment_indexes", f"segment={batch_id}")


def stream_ingest(
    spark: SparkSession,
    input_path: str,
    root: str,
    schema,
    checkpoint_dir: str | None = None,
    stopwords=None,
    available_now: bool = True,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    build_segment_index: bool = False,
    index_fields: tuple[str, ...] = ("role", "tool", "conv_id"),
    shard_size: int = 1 << 20,
):
    """Start (and with available_now=True, run to completion) the ingest
    stream. Each segment holds raw doc rows with stable global doc_ids for
    later global compaction. ``stopwords``/``text_col`` are compaction-time
    tokenizer settings — they are recorded in ingest_meta.json so
    compact_segments applies them without the caller re-passing.

    Per-batch doc_id offsets come from a tiny manifest
    (segments/_offsets.json) updated per batch — O(1) driver work per
    micro-batch, never a scan over all existing segments. A re-run of the
    same batch_id (failure replay) reuses its recorded offset, so doc_ids
    stay stable and the segment overwrite stays idempotent.

    ``build_segment_index=True`` also writes each micro-batch's packed
    index (indexer.write_index, which tokenizes the batch once) under
    ``segment_indexes/`` for compact_segments(incremental=True)."""
    checkpoint_dir = checkpoint_dir or os.path.join(root, "_checkpoint")
    _store_json(
        {
            "stopwords": sorted(stopwords) if stopwords else None,
            "text_col": text_col,
            "order_cols": list(order_cols),
        },
        _meta_path(root),
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        man = _load_json(_offsets_path(root))
        key = str(batch_id)
        if key in man:
            offset = int(man[key]["offset"])  # replayed batch: stable ids
        else:
            offset = max(
                (int(v["offset"]) + int(v["n"]) for v in man.values()),
                default=0,
            )
        base = assign_doc_ids(batch_df, order_cols=order_cols)
        seg = base.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        # idempotent: re-run of the same batch_id overwrites the same dir
        seg.write.mode("overwrite").parquet(_segment_path(root, batch_id))
        n = spark.read.parquet(_segment_path(root, batch_id)).count()
        man[key] = {"offset": offset, "n": n}
        _store_json(man, _offsets_path(root))
        if build_segment_index:
            # tokenize ONCE at ingest; later compaction merges the packed
            # segment indexes without re-reading the text
            # (indexer.merge_indexes)
            from bm25_spark.operators.indexer import build_index, write_index

            seg_df = spark.read.parquet(_segment_path(root, batch_id))
            idx = build_index(
                seg_df,
                text_col=text_col,
                id_col="doc_id",
                index_fields=tuple(index_fields),
                stopwords=stopwords,
                shard_size=shard_size,
                check_empty=False,
            )
            write_index(idx, _segment_index_path(root, batch_id))

    stream = spark.readStream.schema(schema).parquet(input_path)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def compact_segments(
    spark: SparkSession,
    root: str,
    k1: float | None = None,
    b: float | None = None,
    index_fields: tuple[str, ...] | None = None,
    shard_size: int | None = None,
    partition_col: str | None = None,
    stopwords=None,
    text_col: str | None = None,
    incremental: bool = False,
):
    """Merge all segments into a BM25Index with global statistics.

    Default path: batch build over the union of raw segments (fused
    tokenize+pack). ``incremental=True``: merge the per-segment PACKED
    indexes written by stream_ingest(build_segment_index=True) via
    indexer.merge_indexes — compaction then never re-tokenizes; it
    decodes, merges, and re-packs posting blobs only (byte-identical
    result to the rebuild, asserted in tests). ``stopwords``/``text_col``
    default from ingest_meta.json; explicit arguments override the batch
    path. Incremental merge inherits EVERY parameter from the segment
    indexes themselves — an explicit argument that disagrees with the
    segment metadata raises instead of being silently ignored (changing
    k1/b/shard_size/stopwords requires a rebuild, not a merge)."""
    from bm25_spark.operators.indexer import build_index

    if incremental:
        import glob

        from bm25_spark.operators.indexer import merge_indexes, read_index

        roots = sorted(
            glob.glob(os.path.join(root, "segment_indexes", "segment=*"))
        )
        if not roots:
            raise ValueError(
                "no segment indexes — run stream_ingest with "
                "build_segment_index=True"
            )
        segs = [read_index(spark, r) for r in roots]
        first = segs[0]
        conflicts = []
        if k1 is not None and k1 != first.k1:
            conflicts.append(f"k1={k1} (segments: {first.k1})")
        if b is not None and b != first.b:
            conflicts.append(f"b={b} (segments: {first.b})")
        if shard_size is not None and shard_size != first.shard_size:
            conflicts.append(
                f"shard_size={shard_size} (segments: {first.shard_size})"
            )
        if index_fields is not None and tuple(index_fields) != first.index_fields:
            conflicts.append(
                f"index_fields={tuple(index_fields)} "
                f"(segments: {first.index_fields})"
            )
        if stopwords is not None and frozenset(stopwords) != (
            first.stopwords or frozenset()
        ):
            conflicts.append("stopwords differ from the segment indexes'")
        if text_col is not None and text_col != first.text_col:
            conflicts.append(
                f"text_col={text_col!r} (segments: {first.text_col!r})"
            )
        if partition_col is not None:
            conflicts.append(
                "partition_col cannot change at merge time (segments carry "
                "their build-time partitioning)"
            )
        if conflicts:
            raise ValueError(
                "compact_segments(incremental=True) cannot override "
                "segment-index parameters — rebuild instead "
                "(compact_segments(incremental=False)): "
                + "; ".join(conflicts)
            )
        return merge_indexes(segs)

    meta = _load_json(_meta_path(root))
    if stopwords is None:
        stopwords = meta.get("stopwords")
    if text_col is None:
        text_col = meta.get("text_col", "text")
    seg = spark.read.parquet(os.path.join(root, "segments", "segment=*"))
    return build_index(
        seg,
        text_col=text_col,
        id_col="doc_id",
        k1=1.2 if k1 is None else k1,
        b=0.75 if b is None else b,
        index_fields=(
            ("role", "tool", "conv_id")
            if index_fields is None
            else tuple(index_fields)
        ),
        partition_col=partition_col,
        stopwords=stopwords,
        shard_size=(1 << 20) if shard_size is None else shard_size,
    )
