"""Resumable index builds: per-partition commit manifests + lineage +
metrics (the north-rule ops requirements).

The unit of work is a ``pk`` partition (or the single '' partition). Each
completed unit writes its slice of every index table under
``root/<table>/pk=<value>`` and then a manifest JSON
``root/_manifests/<pk>.json`` recording lineage (input fingerprint, code
params) and metrics (docs indexed, terms merged, postings written, bytes
packed). A re-run skips units whose manifest matches the same lineage —
idempotent resume after any failure, no partial-partition state (the
manifest is written only after the data committed, and Spark's parquet
writes are atomic per directory via _SUCCESS). ``root`` may be any
Hadoop-FS URI: manifests and meta.json go through the indexer's path
helpers, and indexer.read_index reads the finished root.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bm25_spark.operators.docids import assign_doc_ids
from bm25_spark.operators.indexer import (
    _list_dir,
    _path_is_dir,
    _write_meta,
    _write_tables,
    build_index,
    index_meta,
    read_meta,
)


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def _manifest_path(root: str, pk: str) -> str:
    safe = pk.replace("/", "_") or "__default__"
    return os.path.join(_manifest_dir(root), f"{safe}.json")


def lineage_fingerprint(params: dict) -> str:
    import hashlib

    return hashlib.md5(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()


def completed_partitions(root: str, fingerprint: str) -> set[str]:
    done = set()
    mdir = _manifest_dir(root)
    # a manifest whose Hadoop-branch write was cut short is only its .tmp
    names = {n.removesuffix(".tmp") for n in _list_dir(mdir)}
    for name in sorted(n for n in names if n.endswith(".json")):
        m = read_meta(os.path.join(mdir, name)) or {}
        if m.get("fingerprint") == fingerprint and m.get("status") == "done":
            done.add(m["pk"])
    return done


def checkpointed_build(
    transcripts: DataFrame,
    root: str,
    partition_col: str,
    build_kwargs: dict | None = None,
    pks_per_job: int = 64,
) -> dict:
    """Build the index in pk-partition BATCHES with per-pk commit manifests.

    Each job builds up to ``pks_per_job`` partitions in ONE Spark build
    (per-pk stats come from the partitioned build itself) and lands them
    with ONE dynamic-partition-overwrite write per index table — so the
    number of passes over the corpus is O(P / pks_per_job), not O(P), and
    every partition in a batch builds in parallel. The commit unit stays
    the pk: manifests are written per pk after its batch's data committed,
    and a resumed run re-does only pks without a matching manifest
    (dynamic overwrite replaces exactly the pk directories being rewritten,
    never completed ones). Each batch's tables go through the index
    writer's loop (indexer._write_tables), so a batch tokenizes its slice
    of the corpus once.

    Returns summary metrics. Resume: re-invoking with the same inputs skips
    completed partitions (lineage fingerprint = build params; callers that
    need input-data fingerprints can add a snapshot id to build_kwargs —
    with Iceberg inputs this is the snapshot_id, giving exact lineage)."""
    build_kwargs = dict(build_kwargs or {})
    fp = lineage_fingerprint(
        {"partition_col": partition_col, **{k: str(v) for k, v in build_kwargs.items()}}
    )
    done = completed_partitions(root, fp)
    keys = [
        r[0]
        for r in transcripts.select(partition_col).distinct().collect()
    ]
    summary = {
        "partitions_total": len(keys),
        "partitions_skipped": 0,
        "partitions_built": 0,
        "build_jobs": 0,
    }

    todo = [k for k in sorted(map(str, keys)) if k not in done]
    summary["partitions_skipped"] = len(keys) - len(todo)
    if not todo:
        return summary

    # doc_ids are GLOBAL (dense rank over order_cols across the whole
    # corpus), assigned once up front — a partition built today and one
    # built on a resumed run tomorrow must agree with each other and with a
    # single-job build_index(partition_col=...). The rank is a pure function
    # of the data, so re-runs reproduce identical ids.
    if "id_col" in build_kwargs:
        with_ids = transcripts
    else:
        with_ids = assign_doc_ids(
            transcripts,
            order_cols=build_kwargs.pop("order_cols", ("conv_id", "turn_idx")),
        )
        build_kwargs["id_col"] = "doc_id"
    build_kwargs.pop("order_cols", None)

    spark = transcripts.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        for lo in range(0, len(todo), max(1, pks_per_job)):
            batch = todo[lo : lo + max(1, pks_per_job)]
            t0 = time.perf_counter()
            part = with_ids.filter(
                F.col(partition_col).cast("string").isin(batch)
            )
            idx = build_index(part, partition_col=partition_col, **build_kwargs)
            metrics_by_pk: dict[str, dict] = {k: {} for k in batch}

            def save(tname: str, df: DataFrame) -> None:
                base = os.path.join(root, tname)
                # dynamic overwrite: ONE write job lands every pk=<value>
                # directory of this batch, leaving completed pks untouched
                df.write.mode("overwrite").partitionBy("pk").parquet(base)
                # count-back verification off the committed files, scoped to
                # this batch's directories (a batch never re-reads the rest)
                written = [
                    p
                    for p in (os.path.join(base, f"pk={k}") for k in batch)
                    if _path_is_dir(p)
                ]
                if written:
                    counts = (
                        spark.read.option("basePath", base)
                        .parquet(*written)
                        .groupBy(F.col("pk").cast("string").alias("pk"))
                        .count()
                        .collect()
                    )
                else:
                    counts = []
                got = {r["pk"]: r["count"] for r in counts}
                for k in batch:
                    metrics_by_pk[k][f"{tname}_rows"] = int(got.get(k, 0))

            _write_tables(idx, save)
            _write_meta(index_meta(idx), os.path.join(root, "meta.json"))
            elapsed = round(time.perf_counter() - t0, 3)
            for key in batch:
                manifest = {
                    "pk": key,
                    "status": "done",
                    "fingerprint": fp,
                    "elapsed_sec": elapsed,  # whole batch job's wall time
                    "batch_pks": len(batch),
                    "metrics": metrics_by_pk[key],
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
                _write_meta(manifest, _manifest_path(root, key), indent=None)
                summary["partitions_built"] += 1
            summary["build_jobs"] += 1
    finally:
        if prev_mode is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_mode)
    return summary

