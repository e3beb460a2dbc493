"""Query-time top-k BM25 API (reference operators O10-O15, O17-O18).

Every search scores the packed posting blobs through one per-shard
block-max WAND kernel (``packed.score_shard``); ``packed.search_packed``
picks where that kernel runs — in-process on the driver for interactive
queries, inside a grouped ``applyInPandas`` for big batches and filters.
This module holds the public entry points plus the pieces both routes
share: the result schema, the filter predicate and the per-pk stats.

The score is the exact reference formula (lib/src/bm25.dart:646-649):
idf * tf*(k1+1)/(tf + k1*((1-b)+b*dl/avgdl)), with query-term multiplicity
folded in as a qtf multiplier (bm25.dart:635 iterates duplicate tokens;
multiplication is identical to repeated addition).

Ties: the reference's tie order is unspecified (score-only comparator,
bm25.dart:740,796); we break deterministically by doc_id ASC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bm25_spark.operators.indexer import BM25Index

RESULT_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("pk", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
        StructField("rank", IntegerType(), False),
    ]
)

_EMPTY_RESULT_SQL = (
    "SELECT CAST(0 AS BIGINT) AS query_id, '' AS pk, "
    "CAST(0 AS BIGINT) AS doc_id, CAST(0.0 AS DOUBLE) AS score, "
    "CAST(0 AS INT) AS rank WHERE 1=0"
)


def empty_result(spark) -> DataFrame:
    """Zero-row RESULT_SCHEMA frame as a LocalRelation: WHERE-false over a
    one-row relation folds to an empty LocalTableScan, so actions on it are
    driver-local (~30ms) instead of the ~0.5s job-scheduling cost of the
    createDataFrame([], schema) parallelize path. All-stopword, unknown-term
    and empty-filter queries return through here (bm25.dart:220,600,628)."""
    return spark.sql(_EMPTY_RESULT_SQL)


def _stats_map(index: BM25Index, partition_keys) -> dict:
    """pk -> (n_docs, avgdl), collected once per index and cached."""
    cache = index.__dict__.setdefault("_stats_cache", {})
    if index.__dict__.get("_stats_all"):
        return cache
    if partition_keys is None:
        for r in index.stats.collect():
            cache[r["pk"]] = (r["n_docs"], r["avgdl"])
        index.__dict__["_stats_all"] = True
    else:
        missing = [k for k in partition_keys if k not in cache]
        if missing:
            for r in index.stats.filter(F.col("pk").isin(missing)).collect():
                cache[r["pk"]] = (r["n_docs"], r["avgdl"])
            for k in missing:  # unknown partitions stay absent, marked seen
                cache.setdefault(k, None)
    return cache


def _filter_predicate(index: BM25Index, flt: dict) -> F.Column:
    """Reference filter semantics (bm25.dart:603-629): union of values
    within a field, intersection across fields; docs with a NULL/missing
    field never match; filtering on a non-indexed field is an error."""
    pred = None
    for fname, v in flt.items():
        if fname not in index.index_fields:
            raise ValueError(
                f"field {fname!r} is not an indexed field {index.index_fields}"
            )
        vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
        col = F.col(fname)
        dtype = dict(zip(index.docs.columns, index.docs.schema))[fname].dataType
        if dtype.typeName() == "array":
            p = F.arrays_overlap(col, F.array(*[F.lit(x) for x in vals]))
        else:
            p = col.isin(vals)
        pred = p if pred is None else (pred & p)
    return pred


def search_batch(
    index: BM25Index,
    queries: list[tuple[int, str]],
    limit: int = 10,
    flt: dict | None = None,
    stopwords=None,
    partition_keys: list[str] | None = None,
    per_partition_limit: int | None = None,
) -> DataFrame:
    """Score a batch of (query_id, query_text). Returns
    (query_id, pk, doc_id, score, rank) with rank 1..limit per query.

    ``partition_keys``: restrict to these pk values (None = no restriction —
    plain index has pk=''). ``per_partition_limit``: cap candidates per pk
    BEFORE the global top-k (reproduces searchMany's default-limit-10 inner
    searches, partitioned_bm25.dart:143-153).
    """
    from bm25_spark.operators.packed import search_packed

    return search_packed(
        index,
        queries,
        limit=limit,
        flt=flt,
        stopwords=stopwords,
        partition_keys=partition_keys,
        per_partition_limit=per_partition_limit,
    )


def search(
    index: BM25Index,
    query: str,
    limit: int = 10,
    flt: dict | None = None,
    stopwords=None,
) -> DataFrame:
    """Single-query convenience — (doc_id, score, rank), rank ascending."""
    res = search_batch(index, [(0, query)], limit=limit, flt=flt, stopwords=stopwords)
    return res.select("doc_id", "score", "rank").orderBy("rank")


def search_in(index: BM25Index, key: str, query: str, limit: int = 10) -> DataFrame:
    """Partition-scoped search (partitioned_bm25.dart:104-109); unknown key
    naturally yields zero rows."""
    res = search_batch(index, [(0, query)], limit=limit, partition_keys=[key])
    return res.select("doc_id", "score", "rank").orderBy("rank")


def search_many(
    index: BM25Index, keys: list[str], query: str, limit: int = 10
) -> DataFrame:
    """Multi-partition merge. Reference quirk reproduced: each inner
    per-partition search runs with DEFAULT limit 10 regardless of the
    caller's limit (partitioned_bm25.dart:143-153)."""
    res = search_batch(
        index,
        [(0, query)],
        limit=limit,
        partition_keys=keys,
        per_partition_limit=10,
    )
    return res.select("pk", "doc_id", "score", "rank").orderBy("rank")


def fetch_results(result_df: DataFrame, index: BM25Index) -> DataFrame:
    """O14: join scores back to document text/metadata."""
    return result_df.join(
        index.docs.select("pk", "doc_id", index.text_col), ["pk", "doc_id"]
    )
