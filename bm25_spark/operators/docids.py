"""Deterministic dense doc_id assignment.

The reference assigns dense ids 0..N-1 in ingestion order
(lib/src/bm25.dart:145-162). Our ingestion order is the stable
``(conv_id, turn_idx)`` ordering mandated by the input contract, so
``doc_id = rank over (order_cols) - 1``.

Two strategies:

- ``window``: ``row_number() OVER (ORDER BY ...)`` — exact but funnels all
  rows through ONE task for the ranking (fine up to ~10M rows; never at
  10^12 scale).
- ``sample`` (default): scalable WITHOUT materializing the corpus. Sample
  order keys, freeze P-1 quantile boundaries ON THE DRIVER, and derive a
  bucket id for every row as a PURE FUNCTION of its key (vectorized
  searchsorted over an order-preserving byte encoding). Because the
  boundary table is driver-frozen, any recomputation of any consumer plan
  reproduces identical bucket ids — no checkpoint needed to pin the
  partitioning. Cost: one TakeOrdered sample + one column-pruned count
  scan (both touch only the order columns; parquet/Iceberg read ~nothing
  else) + the one unavoidable shuffle that routes each bucket to a task.
  doc_id = driver-computed bucket offset + within-bucket sorted position.

Both produce the identical doc_id column (asserted in tests).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

_SAMPLE_PER_PART = 40  # sampled keys per target partition (boundary fit)


def _key_encoder(fields):
    """Order-preserving bytes encoding for a tuple of (string | integral)
    key columns. Strings are utf-8 with embedded NUL escaped
    (``0x00 -> 0x00 0x01``) and terminated by ``0x00 0x00`` — the escape
    keeps multi-column comparisons order-preserving even when a value
    contains ``\\x00`` (plain NUL-termination would rank ('a\\x00','b')
    below ('a','\\x01') while Spark ranks it above). Ints are sign-biased
    big-endian u64. Nulls are rejected — the input contract's order keys
    are non-null."""
    kinds = []
    for f in fields:
        t = f.dataType.simpleString()
        if t == "string":
            kinds.append("s")
        elif t in ("int", "bigint", "smallint", "tinyint"):
            kinds.append("i")
        else:
            raise ValueError(
                f"order column {f.name!r} has unsupported type {t} for "
                "method='sample' (use strings/ints, or method='window')"
            )

    def enc_one(vals) -> bytes:
        parts = []
        for kind, v in zip(kinds, vals):
            if v is None:
                raise ValueError("null order-key value")
            if kind == "s":
                parts.append(
                    str(v).encode("utf-8").replace(b"\x00", b"\x00\x01")
                    + b"\x00\x00"
                )
            else:
                parts.append(int(int(v) + (1 << 63)).to_bytes(8, "big"))
        return b"".join(parts)

    return enc_one


def assign_doc_ids(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    method: str = "sample",
    num_partitions: int | None = None,
) -> DataFrame:
    """Returns df + ``doc_id`` (LONG, dense 0..N-1 by order_cols)."""
    if method == "window":
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
    if method == "sample":
        return _assign_sampled(df, order_cols, num_partitions)
    raise ValueError(f"unknown method {method!r}")


def _assign_sampled(
    df: DataFrame,
    order_cols: tuple[str, ...],
    num_partitions: int | None,
) -> DataFrame:
    """Boundary-table doc_id assignment (module docstring, ``sample``)."""
    spark = df.sparkSession
    num_partitions = (
        num_partitions or spark.sparkContext.defaultParallelism
    )
    fields = [df.schema[c] for c in order_cols]
    enc = _key_encoder(fields)

    # P-1 quantile boundaries from a TakeOrdered sample of the order keys
    # (rand is only the sampling mechanism — determinism does NOT depend
    # on it: the collected boundaries are frozen on the driver, and every
    # downstream bucket id is a pure function of them)
    sample_rows = (
        df.select(*order_cols)
        .orderBy(F.rand(seed=41))
        .limit(num_partitions * _SAMPLE_PER_PART)
        .collect()
    )
    keys = sorted(enc(tuple(r)) for r in sample_rows)
    bounds: list[bytes] = []
    if keys and num_partitions > 1:
        step = len(keys) / num_partitions
        bounds = sorted(
            {keys[min(int(i * step), len(keys) - 1)]
             for i in range(1, num_partitions)}
        )
    bounds_arr = np.array(bounds, dtype=object)

    @F.pandas_udf(IntegerType())
    def bucket_of(*cols):
        import pandas as pd

        it = zip(*[c.tolist() for c in cols])
        encoded = np.array([enc(t) for t in it], dtype=object)
        if len(bounds_arr) == 0:
            return pd.Series(np.zeros(len(encoded), dtype=np.int32))
        return pd.Series(
            np.searchsorted(bounds_arr, encoded, side="right").astype(
                np.int32
            )
        )

    withb = df.withColumn("_pid", bucket_of(*[F.col(c) for c in order_cols]))

    # pass 1: rows per bucket — a column-pruned scan (only order_cols are
    # read from the source); offsets computed on the driver
    counts = (
        df.select(*order_cols)
        .withColumn("_pid", bucket_of(*[F.col(c) for c in order_cols]))
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {int(r["_pid"]): int(r["count"]) for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(len(bounds) + 1):
        offsets[pid] = acc
        acc += by_pid.get(pid, 0)

    out_schema = StructType(
        df.schema.fields + [StructField("doc_id", LongType(), False)]
    )

    # pass 2: route each bucket to one task (hash shuffle on _pid keeps
    # every bucket whole; quantile boundaries keep buckets ~equal), sort
    # the task's rows by (_pid, keys), emit offset[pid] + local position
    def add_ids(iterator):
        cur_pid = -1
        pos = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            pids = pdf["_pid"].to_numpy()
            ids = np.empty(len(pdf), dtype=np.int64)
            starts = np.flatnonzero(
                np.concatenate(([True], pids[1:] != pids[:-1]))
            )
            ends = np.append(starts[1:], len(pdf))
            for s, e in zip(starts, ends):
                p = int(pids[s])
                if p != cur_pid:
                    cur_pid = p
                    pos = offsets.get(p, 0)
                ids[s:e] = np.arange(pos, pos + (e - s))
                pos += e - s
            pdf = pdf.drop(columns=["_pid"])
            pdf["doc_id"] = ids
            yield pdf

    return (
        withb.repartition(num_partitions, "_pid")
        .sortWithinPartitions("_pid", *order_cols)
        .mapInPandas(add_ids, schema=out_schema)
    )
