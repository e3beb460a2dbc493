"""write_index/read_index round-trip and the spark-submit CLI surface."""

import json

from bm25_spark.operators.indexer import build_index, read_index, write_index
from bm25_spark.operators.searcher import search, search_in
from bm25_spark.sources.datagen import synthetic_transcripts


def _ranked(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.orderBy("rank").collect()]


def test_write_read_roundtrip_plain(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=10, seed=5)
    idx = build_index(df)
    root = str(tmp_path / "idx")
    write_index(idx, root)
    idx2 = read_index(spark, root)
    q = "spark data query plan"
    assert _ranked(search(idx2, q, limit=10)) == _ranked(search(idx, q, limit=10))


def test_write_read_roundtrip_partitioned(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=12, seed=9)
    idx = build_index(df, partition_col="role")
    root = str(tmp_path / "idxp")
    write_index(idx, root)
    idx2 = read_index(spark, root, partitioned=True)
    for key in ("user", "assistant"):
        a = _ranked(search_in(idx, key, "spark data", limit=8))
        b = _ranked(search_in(idx2, key, "spark data", limit=8))
        assert a == b


def test_meta_roundtrip_nondefault_shard_size(spark, tmp_path):
    """Regression: shard_size is decode-critical (doc_id = shard*shard_size
    + deltas). A non-default build read back WITHOUT parameters must get
    every parameter from meta.json — not silently default and corrupt
    doc_ids."""
    df = synthetic_transcripts(spark, n_convs=10, seed=5)
    idx = build_index(
        df, shard_size=64, k1=1.5, b=0.6, stopwords=("the", "and")
    )
    root = str(tmp_path / "idx_meta")
    write_index(idx, root)
    idx2 = read_index(spark, root)  # no args: meta.json drives everything
    assert idx2.shard_size == 64
    assert idx2.k1 == 1.5 and idx2.b == 0.6
    assert idx2.stopwords == frozenset({"the", "and"})
    q = "spark data query plan"
    assert _ranked(search(idx2, q, limit=10)) == _ranked(search(idx, q, limit=10))
    # doclens table round-trips too
    a = sorted((r["doc_id"], r["dl"]) for r in idx.doclens.collect())
    b = sorted((r["doc_id"], r["dl"]) for r in idx2.doclens.collect())
    assert a == b


def test_read_index_refuses_to_guess_shard_size(spark, tmp_path):
    import os
    import shutil

    import pytest

    from bm25_spark.plans import checkpoint

    df = synthetic_transcripts(spark, n_convs=6, seed=5)
    idx = build_index(df, shard_size=64)
    root = str(tmp_path / "idx_nometa")
    write_index(idx, root)
    os.remove(os.path.join(root, "meta.json"))
    with pytest.raises(ValueError, match="shard_size"):
        read_index(spark, root)
    # explicit shard_size still works without meta
    idx2 = read_index(spark, root, shard_size=64)
    q = "spark data"
    assert _ranked(search(idx2, q, limit=5)) == _ranked(search(idx, q, limit=5))

    # the checkpointed reader follows the same rule: no meta.json, no
    # guessed default shard_size
    ck = str(tmp_path / "ck_nometa")
    checkpoint.checkpointed_build(
        df, ck, partition_col="role", build_kwargs={"shard_size": 64}
    )
    want = _ranked(
        search_in(checkpoint.read_checkpointed_index(spark, ck), "user", q, limit=5)
    )
    os.remove(os.path.join(ck, "meta.json"))
    with pytest.raises(ValueError, match="shard_size"):
        checkpoint.read_checkpointed_index(spark, ck)
    idx3 = checkpoint.read_checkpointed_index(spark, ck, shard_size=64)
    assert _ranked(search_in(idx3, "user", q, limit=5)) == want

    # a postings table without block offsets is not a layout any scorer
    # reads: the reader refuses it instead of guessing
    old = str(tmp_path / "idx_no_block_off")
    shutil.copytree(root, old)
    shutil.rmtree(os.path.join(old, "postings"))
    spark.read.parquet(os.path.join(root, "postings")).drop(
        "block_off"
    ).write.parquet(os.path.join(old, "postings"))
    with pytest.raises(ValueError, match="rebuild the index"):
        read_index(spark, old, shard_size=64)


def test_cli_build_and_search(spark, tmp_path, capsys):
    from bm25_spark import cli

    src = str(tmp_path / "src")
    synthetic_transcripts(spark, n_convs=8, seed=3).write.parquet(src)
    root = str(tmp_path / "cli_idx")
    rc = cli.main(["build", "--input", src, "--root", root])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["partitions_total"] == 1

    rc = cli.main(["search", "--root", root, "--query", "spark data", "--limit", "5"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res["results"]) == 5
    assert res["results"][0]["rank"] == 1


def test_storage_format_dispatch(spark, tmp_path, monkeypatch):
    """The Iceberg swap on the path route is exactly one string: every
    table writer and reader must receive the storage_format verbatim
    (sandbox has no Iceberg jars, so the dispatch itself is the test),
    and meta.json must record it so readers default correctly."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    df = synthetic_transcripts(spark, n_convs=6, seed=3)
    idx = build_index(df)
    root = str(tmp_path / "idx_fmt")

    seen_w, seen_r = [], []
    real_wfmt, real_rfmt = DataFrameWriter.format, DataFrameReader.format

    def wfmt(self, source):
        seen_w.append(source)
        return real_wfmt(self, source)

    def rfmt(self, source):
        seen_r.append(source)
        return real_rfmt(self, source)

    monkeypatch.setattr(DataFrameWriter, "format", wfmt)
    monkeypatch.setattr(DataFrameReader, "format", rfmt)
    write_index(idx, root, storage_format="parquet")
    assert seen_w and set(seen_w) == {"parquet"}
    meta = json.load(open(f"{root}/meta.json"))
    assert meta["storage_format"] == "parquet"
    idx2 = read_index(spark, root)  # format comes from meta.json
    assert seen_r and set(seen_r) == {"parquet"}
    q = "spark data query"
    assert _ranked(search(idx2, q, limit=8)) == _ranked(search(idx, q, limit=8))


def test_catalog_table_roundtrip(spark, tmp_path):
    """write_index_tables/read_index_tables — the production Iceberg
    route — exercised end-to-end against the local catalog with
    storage_format='parquet' (identical code path; the Iceberg swap is the
    format string + a catalog prefix, per the docstring)."""
    from bm25_spark.operators.indexer import (
        read_index_tables,
        write_index_tables,
    )

    df = synthetic_transcripts(spark, n_convs=8, seed=7)
    idx = build_index(df, shard_size=64, stopwords=("the",))
    prefix = "bm25_t_rt"  # default local warehouse; tables dropped below
    try:
        write_index_tables(idx, prefix, storage_format="parquet")
        idx2 = read_index_tables(spark, prefix)
        assert idx2.shard_size == 64
        assert idx2.stopwords == frozenset({"the"})
        q = "spark data query plan"
        assert _ranked(search(idx2, q, limit=10)) == _ranked(
            search(idx, q, limit=10)
        )
        a = sorted((r["doc_id"], r["dl"]) for r in idx.doclens.collect())
        b = sorted((r["doc_id"], r["dl"]) for r in idx2.doclens.collect())
        assert a == b
    finally:
        for t in ("docs", "terms", "postings", "stats", "doclens", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
