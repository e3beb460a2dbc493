"""Every index-write flow runs the tokenize pipeline once.

The corpus is wrapped in a ``mapInPandas`` that drops one uniquely named
file each time a partition of it is evaluated, so the file count is the
number of passes over the source. The source is one partition and every
build uses ``id_col`` with ``check_empty=False``, so the only source
passes are the tokenize+pack map stage and the docs table (plus the
partition-key listing in checkpointed_build): the counts are exact.
"""

import os
import uuid

from pyspark import StorageLevel

from bm25_spark.operators.docids import assign_doc_ids
from bm25_spark.operators.indexer import (
    build_index,
    read_index,
    write_index,
    write_index_tables,
)
from bm25_spark.operators.searcher import search
from bm25_spark.plans.checkpoint import checkpointed_build
from bm25_spark.sources.datagen import synthetic_transcripts


def _counted_source(spark, marks: str):
    """(source DataFrame, pass counter) — see the module docstring."""
    with_ids = assign_doc_ids(
        synthetic_transcripts(spark, n_convs=8, seed=3), method="window"
    )
    local = spark.createDataFrame(with_ids.collect(), with_ids.schema)
    os.makedirs(marks)

    def tag(batches):
        open(os.path.join(marks, uuid.uuid4().hex), "w").close()
        yield from batches

    src = local.coalesce(1).mapInPandas(tag, schema=local.schema)
    return src, lambda: len(os.listdir(marks))


def _build(src, **kw):
    return build_index(src, id_col="doc_id", check_empty=False, **kw)


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_write_index_tokenizes_once(spark, tmp_path):
    src, passes = _counted_source(spark, str(tmp_path / "marks"))
    idx = _build(src)
    write_index(idx, str(tmp_path / "idx"))
    assert passes() == 2  # the docs table + ONE tokenize+pack pass
    # the writer unpersists what it pinned: nothing of this index stays
    assert not _is_cached(idx.packed) and not _is_cached(idx.enc)
    back = read_index(spark, str(tmp_path / "idx"))
    assert back.doclens.count() == back.docs.count() == src.count()


def test_materialize_then_write_adds_no_pass(spark, tmp_path):
    src, passes = _counted_source(spark, str(tmp_path / "marks"))
    idx = _build(src).materialize()
    assert passes() == 2  # docs + one tokenize pass
    write_index(idx, str(tmp_path / "idx"))
    assert passes() == 2  # every table is written from the caches
    idx.unpersist()

    # with the docs table left uncached the source is visible to every
    # later pass: the write re-reads it for docs only, never to tokenize
    src, passes = _counted_source(spark, str(tmp_path / "marks_nodocs"))
    idx = _build(src).materialize(persist_docs=False)
    assert passes() == 1
    write_index(idx, str(tmp_path / "idx_nodocs"))
    assert passes() == 2
    idx.unpersist()


def test_write_index_tables_tokenizes_once(spark, tmp_path):
    src, passes = _counted_source(spark, str(tmp_path / "marks"))
    prefix = "bm25_t_passes"
    try:
        write_index_tables(_build(src), prefix, storage_format="parquet")
        assert passes() == 2
    finally:
        for t in ("docs", "terms", "postings", "stats", "doclens", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_checkpointed_batch_tokenizes_once(spark, tmp_path):
    src, passes = _counted_source(spark, str(tmp_path / "marks"))
    summary = checkpointed_build(
        src, str(tmp_path / "ck"), partition_col="role",
        build_kwargs={"id_col": "doc_id", "check_empty": False},
    )
    assert summary["build_jobs"] == 1
    # the partition-key listing, the docs table, ONE tokenize+pack pass
    assert passes() == 3


def test_caller_owned_caches_survive_write(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=8, seed=3)
    idx = build_index(df, shard_size=64).materialize()
    q = "spark data query plan"
    before = [tuple(r) for r in search(idx, q, limit=10).collect()]
    write_index(idx, str(tmp_path / "idx"))
    assert _is_cached(idx.packed) and _is_cached(idx.doclens)
    assert [tuple(r) for r in search(idx, q, limit=10).collect()] == before
    idx.unpersist()
