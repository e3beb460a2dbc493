"""Distributed inverted-index build — the tokenize → tf → stats → postings
pipeline (reference operators O1-O9, SURVEY.md §2), expressed as DataFrame
dataflow so Catalyst handles pushdown/pruning/partial-agg.

Index data model (a small star of tables, all carrying ``pk`` — the
partition key; a non-partitioned index uses pk = ''):

- docs     (pk, doc_id, <original cols>)              one row per document
- terms    (pk, term, df, idf)                        dictionary
- packed   (pk, term, shard, n, data, block_last, block_max, block_off)
  delta+varint posting blobs with block-max metadata — the ONLY postings
  form (persisted as the ``postings`` table; see operators/packed.py)
- stats    (pk, n_docs, avgdl)                        per-partition scalars
- doclens  (pk, doc_id, dl)                           derived view (see
  doclens_view) — decoded from the build's sentinel rows, never a second
  tokenize pass

Design notes vs the reference (lib/src/bm25.dart:423-501):

- dl is stored INSIDE each posting (doc_id, tf, dl) so the query path never
  joins a 10^12-row doclens table — norm is recomputed by the scorer from
  (tf, dl, avgdl). Rank-identical; pure layout choice.
- ``shard = doc_id // shard_size`` splits each term's postings into
  contiguous doc-id ranges. This is the skew salt for Zipfian hot terms
  (a stopword-like term appearing in 30% of 10^12 docs cannot be one
  collect_list row) AND the unit of query-time parallelism. Because shards
  are contiguous ranges, per-shard doc-sorted order concatenates to global
  doc-sorted order with no merge (delta-encoding in the packed codec stays
  per-shard).
- IDF = ln((N - df + 0.5)/(df + 0.5) + 1), N/df/avgdl all per-pk
  (partitioned_bm25.dart:15-17: per-partition stats).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
from py4j.protocol import Py4JError

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bm25_spark.operators.docids import assign_doc_ids

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75
DEFAULT_SHARD_SIZE = 1 << 20  # docs per posting shard

# The index tables under their persisted names, in COMPUTE order: written
# or counted in this order, each job computes (and caches, when pinned)
# every upstream it is the first to scan — stats' job runs the
# tokenize+pack map stage, terms' job runs the merge shuffle, and the
# rest read what those two left behind. Readers load the same names.
INDEX_TABLES = ("stats", "terms", "postings", "doclens", "docs")


def _is_cached(df: DataFrame) -> bool:
    return df.storageLevel != StorageLevel.NONE


@dataclass
class BM25Index:
    spark: SparkSession
    docs: DataFrame
    terms: DataFrame
    packed: DataFrame  # PACKED_SCHEMA posting blobs
    stats: DataFrame
    k1: float = DEFAULT_K1
    b: float = DEFAULT_B
    index_fields: tuple[str, ...] = ()
    stopwords: frozenset[str] | None = None
    partitioned: bool = False
    text_col: str = "text"
    shard_size: int = DEFAULT_SHARD_SIZE
    enc: DataFrame | None = None  # tokenized docs (with per-doc term counts)
    doclens: DataFrame | None = None  # (pk, doc_id, dl) — derived view

    def tables(self) -> list[tuple[str, DataFrame]]:
        """(persisted name, table) pairs in INDEX_TABLES (compute) order;
        doclens only when the index has it."""
        by_name = {
            "stats": self.stats, "terms": self.terms, "postings": self.packed,
            "doclens": self.doclens, "docs": self.docs,
        }
        return [(n, by_name[n]) for n in INDEX_TABLES if by_name[n] is not None]

    def _pin(self) -> list[DataFrame]:
        """Persist ``enc`` then ``packed`` — DEPENDENCY order: Spark's
        CacheManager freezes a persisted plan's physical form at
        registration time, so packed registered after enc reads enc's
        cache instead of re-tokenizing, and every table planned later reads
        both. An index whose packed table is already cached (materialize,
        or the caller's own persist) is left alone. Returns what it
        pinned."""
        if _is_cached(self.packed):
            return []
        pinned = [df for df in (self.enc, self.packed) if df is not None]
        for df in pinned:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        return pinned

    def persist(self, persist_docs: bool = True) -> "BM25Index":
        """Register every table for caching: the pins first (_pin), then
        the rest in compute order — each registers after its upstreams.

        ``persist_docs=False`` skips caching the docs table — when the
        source corpus is already cached (or is a columnar table scan),
        docs is a trivial projection of it and a second full copy in the
        block store is pure memory-bandwidth waste; filters read through
        the parent instead."""
        self._pin()
        for name, df in self.tables():
            if (persist_docs or name != "docs") and not _is_cached(df):
                df.persist(StorageLevel.MEMORY_AND_DISK)
        return self

    def materialize(self, persist_docs: bool = True) -> "BM25Index":
        """Force the build: persist (above), count the cached tables in
        compute order, then drop ``enc`` — every table derived from it,
        doclens included, is cached by then."""
        self.persist(persist_docs=persist_docs)
        for name, df in self.tables():
            if persist_docs or name != "docs":
                df.count()
        if self.enc is not None:
            self.enc.unpersist()
        return self

    def unpersist(self) -> None:
        for _, df in self.tables():
            df.unpersist()
        if self.enc is not None:
            self.enc.unpersist()

    def invalidate_caches(self) -> None:
        """Drop the query cache (packed.QueryCache) the search paths keep
        on this object. Operators that change an index (merge_indexes,
        compact_segments, checkpointed builds) return a NEW BM25Index with
        an empty cache; code that rebinds ``packed``/``stats``/``terms``
        on an existing object IN PLACE must call this, or a warmed search
        head serves stale postings."""
        self.__dict__.pop("_query_cache", None)


def build_index(
    transcripts: DataFrame,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    index_fields: tuple[str, ...] = ("role", "tool", "conv_id"),
    partition_col: str | None = None,
    stopwords=None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    shard_size: int = DEFAULT_SHARD_SIZE,
    id_col: str | None = None,
    chunk_postings: int = 1 << 21,
    check_empty: bool = True,
) -> BM25Index:
    """Build the inverted index over a transcripts-shaped DataFrame.

    ``partition_col``: column acting as the PartitionedBM25 key
    (partitioned_bm25.dart:61-81) — all stats become per-key. None = single
    logical partition (pk='').

    ``id_col``: use an existing unique integer column as doc_id instead of
    deriving dense ids from ``order_cols`` (e.g. a corpus that already
    carries stable ids).

    ``check_empty``: reference parity — BM25.build rejects an empty corpus
    (bm25.dart:163-169); one limit-1 probe, skippable for hot paths that
    already know the input is non-empty.
    """
    if check_empty and transcripts.isEmpty():
        raise ValueError("empty corpus (reference: BM25.build throws)")
    stop = frozenset(stopwords) if stopwords else None

    if id_col is not None:
        base = transcripts.withColumn("doc_id", F.col(id_col).cast("long"))
    else:
        base = assign_doc_ids(transcripts, order_cols=order_cols)
    pk_expr = (
        F.col(partition_col).cast("string") if partition_col else F.lit("")
    )
    src = base.withColumn("pk", pk_expr)
    # Single pass over the text for the whole index critical path: the
    # fused tokenize+count+pack map stage also emits per-task doc-count /
    # Σdl sentinel rows, so corpus statistics (n_docs, avgdl) come from the
    # SAME scan — no separate tokenize pass before packing can start.
    runs, stats, packed = _pack_pipeline(
        src, shard_size, k1, b, text_col, stop, chunk_postings=chunk_postings
    )
    # the docs table is the source rows as-is; per-doc lengths live in the
    # doclens view (decoded from the pack pass's sentinel rows), so the
    # corpus is tokenized exactly ONCE per build
    return _finish_index(
        src,
        stats,
        packed,
        k1=k1,
        b=b,
        index_fields=index_fields,
        stopwords=stop,
        partitioned=partition_col is not None,
        text_col=text_col,
        shard_size=shard_size,
        pin=runs,
    )


def _finish_index(
    docs_out: DataFrame,
    stats: DataFrame,
    packed: DataFrame,
    k1: float,
    b: float,
    index_fields: tuple[str, ...],
    stopwords,
    partitioned: bool,
    text_col: str,
    shard_size: int,
    pin: DataFrame | None = None,
    doclens_override: DataFrame | None = None,
) -> BM25Index:
    spark = docs_out.sparkSession
    # df(t) = Σ_shard n — read off the packed index (30 rows per term·shard,
    # not another pass over the (doc, term) relation).
    terms = (
        packed.groupBy("pk", "term")
        .agg(F.sum("n").alias("df"))
        .join(F.broadcast(stats.select("pk", "n_docs")), "pk")
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .drop("n_docs")
    )
    doclens = (
        doclens_override
        if doclens_override is not None
        else (doclens_view(pin) if pin is not None else None)
    )
    return BM25Index(
        spark=spark,
        docs=docs_out,
        terms=terms,
        packed=packed,
        stats=stats,
        k1=k1,
        b=b,
        index_fields=tuple(index_fields),
        stopwords=stopwords,
        partitioned=partitioned,
        text_col=text_col,
        shard_size=shard_size,
        enc=pin,
        doclens=doclens,
    )


PACKED_SCHEMA = StructType(
    [
        StructField("pk", StringType(), False),
        StructField("term", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("n", IntegerType(), False),
        StructField("data", BinaryType(), False),
        StructField("block_last", ArrayType(LongType()), False),
        StructField("block_max", ArrayType(DoubleType()), False),
        StructField("block_off", ArrayType(IntegerType()), False),
    ]
)

_RUN_SCHEMA = StructType(
    [
        StructField("pk", StringType(), False),
        StructField("term", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("n", IntegerType(), False),
        StructField("data", BinaryType(), False),
        StructField("sum_dl", LongType(), False),
    ]
)

# sentinel terms for non-posting rows in the runs table; real tokens are
# always >= 2 chars (bm25.dart:712), so 0/1-char strings cannot collide
_STATS_TERM = ""  # per-task (n_docs, sum_dl) aggregates per pk
_DL_TERM = "\x01"  # per-task packed (doc_id, dl) pairs per pk


def _pack_pipeline(
    src: DataFrame,
    shard_size: int,
    k1: float,
    b: float,
    text_col: str = "text",
    stopwords=None,
    chunk_postings: int = 1 << 21,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Two-stage pack-merge postings build (the index build's only wide
    shuffle, Lucene-segment style):

    1. map side (narrow, ``mapInArrow`` straight off the corpus): tokenize +
       per-doc TF count (the reference's per-doc map, bm25.dart:426-433)
       and pack in ONE fused stage — text crosses the Arrow boundary once,
       token arrays never materialize JVM-side. Grouping is a term-code
       lexsort; ONE bulk varint encode is sliced into per-(pk, term, shard)
       run blobs. The shuffle then moves COMPRESSED RUNS — orders of
       magnitude less than shuffling raw posting rows, and hot Zipf terms
       are already split by doc-range shard so no single reducer key
       explodes.
    2. reduce side: repartition the runs by (pk, term, shard) and
       merge-sort each group's runs + re-pack with block-max metadata
       (codec.pack_postings).

    The reference's analog is the single-threaded posting builder
    (lib/src/bm25.dart:437-468); shards (contiguous doc-id ranges) make the
    merge exact: per-shard doc order concatenates to global doc order."""
    import pyarrow as pa

    from bm25_spark.functions import codec
    from bm25_spark.functions.analyzer import _ASCII_TBL, tokenize_text

    stop = frozenset(stopwords) if stopwords else None
    stop_b = (
        frozenset(w.encode() for w in stop if w.isascii()) if stop else None
    )

    # flush partial runs every ~chunk_postings postings: task memory stays
    # O(chunk) regardless of partition size (a 100 TB build cannot buffer a
    # whole input split in Python) — the merge happily unions multiple runs
    # per (pk, term, shard) from the same task

    def partial_pack(batches):
        import pandas as _pd

        term_code: dict = {}  # keyed by bytes (ascii path) or str (unicode)
        vocab: list[str] = []
        pk_code: dict[str, int] = {}
        pk_vals: list[str] = []
        # per-pk doc stats for this task's slice — emitted as sentinel rows
        # so n_docs/avgdl derive from this same pass (empty docs count too)
        pk_ndocs: dict[str, int] = {}
        pk_sumdl: dict[str, int] = {}

        # accumulated (code, tf, doc, dl, pkc) arrays awaiting a flush
        acc: list[tuple] = []
        acc_n = 0
        # per-pk (doc_id, dl) pairs for EVERY doc seen (incl. dl=0), packed
        # into varint sentinel rows — the docs table's dl and the doclens
        # view derive from this same single tokenize pass (the reference
        # tokenizes once too, bm25.dart:148-156). Accumulated as lists of
        # per-slice numpy arrays (no per-doc Python appends).
        dl_ids: dict[str, list] = {}
        dl_vals: dict[str, list] = {}

        def flush_dl():
            if not dl_ids:
                return None
            pks_o, ns_o, datas_o = [], [], []
            for pk in sorted(dl_ids):
                ids = np.concatenate(dl_ids[pk]).astype(np.int64)
                vals = np.concatenate(dl_vals[pk]).astype(np.int64)
                order = np.argsort(ids, kind="stable")
                ids_s, vals_s = ids[order], vals[order]
                inter = np.empty(2 * len(ids_s), dtype=np.uint64)
                deltas = np.empty(len(ids_s), dtype=np.int64)
                deltas[0] = ids_s[0]
                deltas[1:] = np.diff(ids_s)
                inter[0::2] = deltas.astype(np.uint64)
                inter[1::2] = vals_s.astype(np.uint64)
                pks_o.append(pk)
                ns_o.append(len(ids_s))
                datas_o.append(codec.encode_varints(inter))
            dl_ids.clear()
            dl_vals.clear()
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(pks_o, pa.string()),
                    pa.array([_DL_TERM] * len(pks_o), pa.string()),
                    pa.array([0] * len(pks_o), pa.int32()),
                    pa.array(np.asarray(ns_o, np.int32), pa.int32()),
                    pa.array(datas_o, pa.binary()),
                    pa.array([0] * len(pks_o), pa.int64()),
                ],
                names=["pk", "term", "shard", "n", "data", "sum_dl"],
            )

        def flush():
            # peak-memory discipline: this is the task's high-water moment
            # (measured: the flush path dominated worker RSS at 10x bench
            # scale), so every intermediate is freed the moment its last
            # consumer ran — acc right after concatenation, the unsorted
            # arrays right after their sorted copies exist, the full sorted
            # key arrays right after the per-run metadata is sliced out.
            codes = np.concatenate([a[0] for a in acc])
            tf_flat = np.concatenate([a[1] for a in acc])
            doc_flat = np.concatenate([a[2] for a in acc])
            dl_flat = np.concatenate([a[3] for a in acc])
            pk_codes = np.concatenate([a[4] for a in acc])
            acc.clear()
            shard = (doc_flat // shard_size).astype(np.int64)
            order = np.lexsort((doc_flat, shard, codes, pk_codes))
            doc_s, tf_s, dl_s = doc_flat[order], tf_flat[order], dl_flat[order]
            code_s, pk_s, shard_s = codes[order], pk_codes[order], shard[order]
            del codes, tf_flat, doc_flat, dl_flat, pk_codes, shard
            bmask = np.empty(len(order), dtype=bool)
            bmask[0] = True
            bmask[1:] = (
                (pk_s[1:] != pk_s[:-1])
                | (code_s[1:] != code_s[:-1])
                | (shard_s[1:] != shard_s[:-1])
            )
            del order
            starts = np.flatnonzero(bmask)
            ends = np.append(starts[1:], len(bmask))
            del bmask
            bases = shard_s[starts] * shard_size
            pks_meta = [pk_vals[c] for c in pk_s[starts]]
            terms_meta = [vocab[c] for c in code_s[starts]]
            shards_meta = shard_s[starts].astype(np.int32)
            del code_s, pk_s, shard_s
            blobs = codec.pack_runs_bulk(doc_s, tf_s, dl_s, starts, ends, bases)
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(pks_meta, pa.string()),
                    pa.array(terms_meta, pa.string()),
                    pa.array(shards_meta, pa.int32()),
                    pa.array((ends - starts).astype(np.int32), pa.int32()),
                    pa.array(blobs, pa.binary()),
                    pa.array([0] * len(starts), pa.int64()),
                ],
                names=["pk", "term", "shard", "n", "data", "sum_dl"],
            )

        def process_slice(texts_s, ids_s, pks_s):
            """Tokenize + count one row-slice with NO per-doc (let alone
            per-token) Python in the ASCII path: every doc's bytes are
            translated (C) and joined into ONE buffer with a ``\\x01``
            doc separator — impossible in post-translate text, which is
            [a-z0-9_ ] only — so one ``split()`` yields the whole slice's
            tokens, one ``pandas.factorize`` codes them, and the min-length
            / stopword filter applies per UNIQUE term (vocab-sized), not
            per token. dl = post-filter token count per doc
            (bm25.dart:427) via one bincount. Non-ASCII docs join as empty
            strings (keeping separator alignment) and take the exact
            Unicode regex path individually — their tokens merge into the
            same (doc, term) count."""
            nonlocal acc_n
            n_rows = len(texts_s)

            enc = []
            tok_nonascii: dict[int, list] = {}
            for i, t in enumerate(texts_s):
                if not t:
                    enc.append(b"")
                elif t.isascii():
                    enc.append(t.encode().translate(_ASCII_TBL))
                else:
                    enc.append(b"")
                    tok_nonascii[i] = tokenize_text(t, stop)
            raw = b" \x01 ".join(enc).split()
            flat = np.empty(len(raw), dtype=object)
            flat[:] = raw
            codes_local, uniq = _pd.factorize(flat, sort=False)

            # per-UNIQUE-term: drop separators / 1-char / stopwords, map
            # survivors to global term codes (the only Python dict traffic)
            lut = np.empty(len(uniq), dtype=np.int64)
            keepu = np.empty(len(uniq), dtype=bool)
            for j, term in enumerate(uniq):
                if len(term) < 2 or (stop_b and term in stop_b):
                    keepu[j] = False
                    lut[j] = -1
                    continue
                keepu[j] = True
                tc = term_code.get(term)
                if tc is None:
                    tc = term_code[term] = len(vocab)
                    vocab.append(term.decode())
                lut[j] = tc
            is_sep = flat == b"\x01"
            # token at position p belongs to doc = #separators before p
            # (inclusive cumsum equals the exclusive count at non-sep
            # positions; separator positions are dropped by keepu)
            doc_idx_all = np.cumsum(is_sep)
            keep = keepu[codes_local]
            d_loc_tok = doc_idx_all[keep]
            g = lut[codes_local[keep]]

            if tok_nonascii:
                extra_doc, extra_code = [], []
                for i, tl in tok_nonascii.items():
                    for tkn in tl:
                        tc = term_code.get(tkn)
                        if tc is None:
                            tc = term_code[tkn] = len(vocab)
                            vocab.append(tkn)
                        extra_code.append(tc)
                        extra_doc.append(i)
                d_loc_tok = np.concatenate(
                    [d_loc_tok, np.asarray(extra_doc, np.int64)]
                )
                g = np.concatenate([g, np.asarray(extra_code, np.int64)])

            lens = np.bincount(d_loc_tok, minlength=n_rows).astype(np.int64)

            # per-pk doc stats + (doc_id, dl) sentinel arrays, grouped by
            # the slice's UNIQUE pks (one boolean pass per pk value)
            pk_codes_local, pk_uniq = _pd.factorize(
                np.asarray(pks_s, dtype=object), sort=False
            )
            pk_lut = np.empty(len(pk_uniq), dtype=np.int64)
            for j, pk in enumerate(pk_uniq):
                sel = pk_codes_local == j
                pk_ndocs[pk] = pk_ndocs.get(pk, 0) + int(sel.sum())
                pk_sumdl[pk] = pk_sumdl.get(pk, 0) + int(lens[sel].sum())
                if pk not in dl_ids:
                    dl_ids[pk] = []
                    dl_vals[pk] = []
                dl_ids[pk].append(ids_s[sel])
                dl_vals[pk].append(lens[sel])
                pc_ = pk_code.get(pk)
                if pc_ is None:
                    pc_ = pk_code[pk] = len(pk_vals)
                    pk_vals.append(pk)
                pk_lut[j] = pc_
            pkcs_doc = pk_lut[pk_codes_local]

            if len(g) == 0:
                return
            v_sz = np.int64(len(vocab))
            uk, tf = np.unique(d_loc_tok * v_sz + g, return_counts=True)
            d_loc = uk // v_sz
            acc.append(
                (
                    uk % v_sz,
                    tf.astype(np.int64),
                    ids_s[d_loc],
                    lens[d_loc],
                    pkcs_doc[d_loc],
                )
            )
            acc_n += len(uk)

        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            texts = cols[text_col].to_pylist()
            ids = cols["doc_id"].to_numpy().astype(np.int64)
            pks = cols["pk"].to_pylist()
            n_rows = len(texts)
            # slice rows so accumulated postings stay ~chunk-bounded even
            # within one Arrow batch (task memory stays O(chunk))
            step = max(1, min(n_rows, chunk_postings // 32))
            for s in range(0, n_rows, step):
                e = min(s + step, n_rows)
                process_slice(texts[s:e], ids[s:e], pks[s:e])
                if acc_n >= chunk_postings:
                    yield flush()
                    acc.clear()
                    acc_n = 0
                    dlb = flush_dl()
                    if dlb is not None:
                        yield dlb
        dlb = flush_dl()
        if dlb is not None:
            yield dlb
        if pk_ndocs:
            sent_pks = sorted(pk_ndocs)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sent_pks, pa.string()),
                    pa.array([_STATS_TERM] * len(sent_pks), pa.string()),
                    pa.array([0] * len(sent_pks), pa.int32()),
                    pa.array([pk_ndocs[p] for p in sent_pks], pa.int32()),
                    pa.array([b""] * len(sent_pks), pa.binary()),
                    pa.array([pk_sumdl[p] for p in sent_pks], pa.int64()),
                ],
                names=["pk", "term", "shard", "n", "data", "sum_dl"],
            )
        if acc:
            yield flush()

    runs = src.select("pk", "doc_id", F.col(text_col)).mapInArrow(
        partial_pack, schema=_RUN_SCHEMA
    )

    stats = (
        runs.filter(F.col("term") == _STATS_TERM)
        .groupBy("pk")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("sum_dl") / F.sum("n")).alias("avgdl"),
        )
    )

    packed = _merge_runs_exchange(
        runs.filter(F.length("term") >= 2),  # real tokens only, no sentinels
        stats,
        shard_size,
        k1,
        b,
    )
    return runs, stats, packed


def _make_merge_runs(shard_size: int, k1: float, b: float):
    """Reduce-side merge generator (shared by the build pipeline and
    segment-index merging): streams GROUP BY GROUP over rows pre-sorted by
    (pk, term, shard), so task memory is O(one term-shard group + output
    buffer) — never the whole shuffle partition (a skewed merge partition
    at 100x scale must not OOM the task). Output batches flush at a byte
    budget. Input rows carry (pk, term, shard, n, data, avgdl); run blobs
    use the triple-varint layout (pack_run == pack_postings payload)."""
    import pyarrow as pa

    from bm25_spark.functions import codec

    _FLUSH_BYTES = 64 << 20

    def merge_runs(batches):
        out = {
            k: []
            for k in ("pk", "term", "shard", "n", "data", "bl", "bm", "off")
        }
        out_bytes = 0

        def out_batch():
            rb = pa.RecordBatch.from_arrays(
                [
                    pa.array(out["pk"], pa.string()),
                    pa.array(out["term"], pa.string()),
                    pa.array(np.asarray(out["shard"], np.int32), pa.int32()),
                    pa.array(np.asarray(out["n"], np.int32), pa.int32()),
                    pa.array(out["data"], pa.binary()),
                    pa.array(out["bl"], pa.list_(pa.int64())),
                    pa.array(out["bm"], pa.list_(pa.float64())),
                    pa.array(out["off"], pa.list_(pa.int32())),
                ],
                names=[
                    "pk", "term", "shard", "n", "data",
                    "block_last", "block_max", "block_off",
                ],
            )
            for k in out:
                out[k].clear()
            return rb

        def emit(key, runs_l, avgdl):
            nonlocal out_bytes
            pk, term, shard = key
            base = int(shard) * shard_size
            if len(runs_l) == 1:
                n0, d0 = runs_l[0]
                ids, tfs, dls = codec.unpack_run(bytes(d0), int(n0), base)
            else:
                ids_l, tfs_l, dls_l = [], [], []
                for n0, d0 in runs_l:
                    i, t, d = codec.unpack_run(bytes(d0), int(n0), base)
                    ids_l.append(i)
                    tfs_l.append(t)
                    dls_l.append(d)
                ids = np.concatenate(ids_l)
                tfs = np.concatenate(tfs_l).astype(np.int64)
                dls = np.concatenate(dls_l).astype(np.int64)
                order = np.argsort(ids, kind="stable")
                ids, tfs, dls = ids[order], tfs[order], dls[order]
            data, n, bl, bm, off = codec.pack_postings(
                ids, tfs, dls, base, k1, b, float(avgdl)
            )
            out["pk"].append(pk)
            out["term"].append(term)
            out["shard"].append(shard)
            out["n"].append(n)
            out["data"].append(data)
            out["bl"].append(bl)
            out["bm"].append(bm)
            out["off"].append(off)
            out_bytes += len(data)

        cur_key = None
        cur_runs: list[tuple[int, bytes]] = []
        cur_avgdl = 0.0
        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            for pk, term, shard, n, data, av in zip(
                cols["pk"].to_pylist(),
                cols["term"].to_pylist(),
                cols["shard"].to_pylist(),
                cols["n"].to_pylist(),
                cols["data"].to_pylist(),
                cols["avgdl"].to_pylist(),
            ):
                key = (pk, term, shard)
                if key != cur_key:
                    if cur_key is not None:
                        emit(cur_key, cur_runs, cur_avgdl)
                        if out_bytes >= _FLUSH_BYTES:
                            yield out_batch()
                            out_bytes = 0
                    cur_key, cur_runs = key, []
                cur_runs.append((n, data))
                cur_avgdl = av
        if cur_key is not None:
            emit(cur_key, cur_runs, cur_avgdl)
        if out["pk"]:
            yield out_batch()

    return merge_runs


def _merge_runs_exchange(
    run_rows: DataFrame,
    stats: DataFrame,
    shard_size: int,
    k1: float,
    b: float,
) -> DataFrame:
    """(pk, term, shard, n, data) run rows -> final packed table: broadcast
    the per-pk avgdl, shuffle by group key, stream-merge. The explicit
    partition count defeats AQE coalescing this exchange to ~1 task
    (compressed runs LOOK tiny) and serializing the decode+merge work."""
    spark = run_rows.sparkSession
    n_merge = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        run_rows.select("pk", "term", "shard", "n", "data")
        .join(F.broadcast(stats.select("pk", "avgdl")), "pk")
        .repartition(n_merge, "pk", "term", "shard")
        .sortWithinPartitions("pk", "term", "shard")
        .mapInArrow(
            _make_merge_runs(shard_size, k1, b), schema=PACKED_SCHEMA
        )
    )


def merge_indexes(indexes: list[BM25Index]) -> BM25Index:
    """Lucene-style segment merge WITHOUT re-tokenizing.

    Per-segment packed postings are unioned as merge runs (the packed blob
    payload IS the run layout — triple varints), shuffled by
    (pk, term, shard), and re-packed with the MERGED corpus's global avgdl
    — block metadata depends on norms, so blobs must re-pack, but the text
    is never touched: compaction costs decode+merge+encode instead of a
    full tokenize pass (the dominant build cost). Global stats come
    exactly from the unioned doclens (integer dl sums, not a float
    avgdl*n reconstruction), so the result is byte-identical to a
    from-scratch build over the union.

    Requirements: identical k1/b/shard_size/text_col/partitioned across
    segments, disjoint globally-consistent doc_id spaces (the streaming
    ingest offset manifest guarantees this), and doclens present."""
    first = indexes[0]
    for ix in indexes[1:]:
        if (
            ix.shard_size != first.shard_size
            or ix.k1 != first.k1
            or ix.b != first.b
            or ix.partitioned != first.partitioned
            or ix.text_col != first.text_col
            # tokenizer/filter semantics must match too: segments tokenized
            # with different stopword sets (or filterable fields) cannot
            # merge into one coherent index — the merged index's query-side
            # tokenizer would silently disagree with half the postings
            or (ix.stopwords or frozenset()) != (first.stopwords or frozenset())
            or tuple(ix.index_fields) != tuple(first.index_fields)
        ):
            raise ValueError("merge_indexes: incompatible index parameters")
        if ix.doclens is None:
            raise ValueError("merge_indexes: doclens required")
    if first.doclens is None:
        raise ValueError("merge_indexes: doclens required")

    docs_u = indexes[0].docs
    doclens_u = indexes[0].doclens
    runs_u = indexes[0].packed.select("pk", "term", "shard", "n", "data")
    for ix in indexes[1:]:
        docs_u = docs_u.unionByName(ix.docs)
        doclens_u = doclens_u.unionByName(ix.doclens)
        runs_u = runs_u.unionByName(
            ix.packed.select("pk", "term", "shard", "n", "data")
        )
    stats = doclens_u.groupBy("pk").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    packed = _merge_runs_exchange(
        runs_u, stats, first.shard_size, first.k1, first.b
    )
    return _finish_index(
        docs_u,
        stats,
        packed,
        k1=first.k1,
        b=first.b,
        index_fields=first.index_fields,
        stopwords=first.stopwords,
        partitioned=first.partitioned,
        text_col=first.text_col,
        shard_size=first.shard_size,
        pin=None,
        doclens_override=doclens_u,
    )


def doclens_view(runs: DataFrame) -> DataFrame:
    """(pk, doc_id, dl) for every document — decoded from the per-task
    varint sentinel rows the fused pack pass emits, so the corpus is never
    tokenized a second time to learn document lengths."""
    import pyarrow as pa

    from bm25_spark.functions import codec

    out_schema = StructType(
        [
            StructField("pk", StringType(), False),
            StructField("doc_id", LongType(), False),
            StructField("dl", IntegerType(), False),
        ]
    )

    def dec(batches):
        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            for pk, n, data in zip(
                cols["pk"].to_pylist(),
                cols["n"].to_pylist(),
                cols["data"].to_pylist(),
            ):
                vals = codec.decode_varints(bytes(data), 2 * n)
                ids = np.cumsum(vals[0::2].astype(np.int64))
                dls = vals[1::2].astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([pk] * int(n), pa.string()),
                        pa.array(ids, pa.int64()),
                        pa.array(dls, pa.int32()),
                    ],
                    names=["pk", "doc_id", "dl"],
                )

    return runs.filter(F.col("term") == _DL_TERM).select(
        "pk", "n", "data"
    ).mapInArrow(dec, schema=out_schema)


def index_meta(index: BM25Index) -> dict:
    """Decode-critical + semantic parameters persisted alongside the data.
    shard_size is DECODE-critical (doc_id = shard*shard_size + deltas): a
    reader guessing it wrong silently corrupts every doc_id, so it is never
    defaulted on read."""
    return {
        "format_version": 1,
        "shard_size": index.shard_size,
        "k1": index.k1,
        "b": index.b,
        "partitioned": index.partitioned,
        "index_fields": list(index.index_fields),
        "stopwords": sorted(index.stopwords) if index.stopwords else None,
        "text_col": index.text_col,
    }


def _local_path(path: str) -> str | None:
    """The OS path behind a scheme-less path or a file: URI (its path
    part); None for every other scheme (hdfs://, s3a://, ...), which goes
    through the Hadoop FileSystem API. These helpers are the only code
    that touches the state files beside an index's tables (meta.json,
    checkpoint manifests, ingest offsets): open()/os.path on a URI would
    write under a cwd-relative ``file:`` folder or read nothing."""
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme == "":
        return path
    return u.path if u.scheme == "file" else None


def _hadoop_fs(path: str):
    """(jvm, fs, jpath) for a Hadoop-FS path, via the active session's
    JVM gateway and hadoopConfiguration (so s3a/hdfs credentials apply)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"no active SparkSession to resolve {path!r}")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _path_is_dir(path: str) -> bool:
    local = _local_path(path)
    if local is not None:
        return os.path.isdir(local)
    _, fs, jpath = _hadoop_fs(path)
    return bool(fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory())


def _list_dir(path: str) -> list[str]:
    """Sorted entry names of directory ``path``; [] when it is missing."""
    local = _local_path(path)
    if local is not None:
        return sorted(os.listdir(local)) if os.path.isdir(local) else []
    _, fs, jpath = _hadoop_fs(path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))


def _write_meta(meta: dict, path: str, indent: int | None = 1) -> None:
    """Write a JSON record, creating its parent directory, through
    ``path + ".tmp"``: locally os.replace commits it in one step; on the
    Hadoop branch the old record is deleted before the rename, and
    read_meta falls back to the complete .tmp if a crash lands between
    the two."""
    payload = json.dumps(meta, indent=indent)
    local = _local_path(path)
    if local is not None:
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        with open(local + ".tmp", "w") as f:
            f.write(payload)
        os.replace(local + ".tmp", local)
        return
    jvm, fs, jpath = _hadoop_fs(path)
    jtmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(jtmp, True)  # creates missing parent directories
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(jtmp, jpath):
        raise IOError(f"rename {path}.tmp -> {path} failed")


def read_meta(path: str) -> dict | None:
    """The JSON record _write_meta left at ``path`` (or, when the record
    is missing, at ``path + ".tmp"``); None when neither exists or the
    record does not parse."""
    for p in (path, path + ".tmp"):
        local = _local_path(p)
        try:
            if local is None:
                jvm, fs, jpath = _hadoop_fs(p)
                if fs.exists(jpath):
                    baos = jvm.java.io.ByteArrayOutputStream()
                    jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                        fs.open(jpath), baos, 4096, True
                    )
                    return json.loads(bytes(baos.toByteArray()).decode("utf-8"))
            elif os.path.exists(local):
                with open(local) as f:
                    return json.load(f)
        except (OSError, ValueError, Py4JError):
            return None
    return None


def write_index(
    index: BM25Index,
    root: str,
    mode: str = "overwrite",
    storage_format: str = "parquet",
) -> None:
    """Persist the index star + meta.json under a path root.

    ``storage_format`` is the DataSource name handed to every writer —
    ``"parquet"`` (default, always available) or ``"iceberg"`` where the
    Iceberg Spark runtime is on the classpath (path-based HadoopTables);
    the swap is exactly this one string, verified by
    tests/test_persistence_cli.py::test_storage_format_dispatch. For
    catalog-managed Iceberg tables (snapshots, partition evolution, time
    travel) use write_index_tables/read_index_tables instead. The postings
    table is the PACKED form (delta+varint blobs + block-max + block
    offsets). meta.json carries shard_size/k1/b/fields/stopwords/
    storage_format so readers cannot silently decode with mismatched
    parameters, and is written last.

    The tables go through _write_tables: an index that is not cached yet
    has its tokenize output and packed postings pinned for the duration of
    the write, so the corpus is tokenized once; a materialized index is
    written from its caches, which stay cached."""

    def save(name: str, df: DataFrame) -> None:
        # hive partitioning treats pk='' (the single-partition sentinel) as
        # NULL on read — only layout by pk for genuinely partitioned
        # indexes; stats stays one small un-partitioned table
        wr = df.write.mode(mode).format(storage_format)
        if index.partitioned and name != "stats":
            wr = wr.partitionBy("pk")
        wr.save(f"{root}/{name}")

    _write_tables(index, save)
    meta = index_meta(index)
    meta["storage_format"] = storage_format
    _write_meta(meta, f"{root}/meta.json")


def _write_tables(index: BM25Index, save) -> None:
    """The one index-table writing loop (write_index, write_index_tables,
    plans.checkpoint.checkpointed_build): pin (BM25Index._pin), call
    ``save(name, df)`` for every table in compute order, then unpersist
    only what was pinned here — the tokenize pipeline runs once per write
    and a caller's own caches survive it."""
    pinned = index._pin()
    try:
        for name, df in index.tables():
            save(name, df)
    finally:
        for df in pinned:
            df.unpersist()


def _index_from_tables(
    spark: SparkSession,
    where: str,
    rd,
    meta: dict,
    has_doclens: bool,
    shard_size: int | None = None,
    **params,
) -> BM25Index:
    """The one reader rule behind read_index and read_index_tables:
    ``rd(table)`` loads one index table; parameters come from ``params``
    (explicit caller arguments, None = unset), else from ``meta`` (the
    write-side truth), else from the defaults.

    Two checks: the postings table must be the packed layout with block
    offsets (the only form the scorers read), and ``shard_size`` is never
    defaulted — it is DECODE-critical (doc_id = shard*shard_size +
    deltas), so guessing it wrong would silently corrupt every doc_id."""
    tables = {n: rd(n) for n in INDEX_TABLES if n != "doclens" or has_doclens}
    packed = tables["postings"]
    missing = sorted({"data", "block_off"} - set(packed.columns))
    if missing:
        raise ValueError(
            f"{where}: postings table lacks {missing} (not the packed "
            "layout with block offsets) — rebuild the index"
        )
    if shard_size is None:
        shard_size = meta.get("shard_size")
        if shard_size is None:
            raise ValueError(
                f"{where}: no shard_size in the index metadata or the "
                "arguments — refusing to guess a decode-critical parameter"
            )

    def param(name: str, default):
        v = params.get(name)
        return v if v is not None else meta.get(name, default)

    stopwords = param("stopwords", None)
    return BM25Index(
        spark=spark,
        docs=tables["docs"],
        terms=tables["terms"],
        packed=packed,
        stats=tables["stats"],
        doclens=tables.get("doclens"),
        k1=float(param("k1", DEFAULT_K1)),
        b=float(param("b", DEFAULT_B)),
        index_fields=tuple(param("index_fields", ("role", "tool", "conv_id"))),
        stopwords=frozenset(stopwords) if stopwords else None,
        partitioned=bool(param("partitioned", False)),
        shard_size=int(shard_size),
    )


def read_index(
    spark: SparkSession,
    root: str,
    k1: float | None = None,
    b: float | None = None,
    index_fields: tuple[str, ...] | None = None,
    stopwords=None,
    partitioned: bool | None = None,
    shard_size: int | None = None,
    storage_format: str | None = None,
) -> BM25Index:
    """Load a persisted index. Parameters default from the root's meta.json
    (the write-side truth); explicit arguments override. shard_size given
    neither way is an error — silently defaulting it would decode corrupt
    doc_ids (see _index_from_tables). ``storage_format`` likewise defaults
    from meta.json (an index written as Iceberg must not be read as raw
    parquet — the file layout under an Iceberg table dir is not a plain
    parquet dataset). A plans.checkpoint.checkpointed_build root reads the
    same way: its pk=<value> table directories are hive partitions."""
    meta = read_meta(f"{root}/meta.json") or {}
    if storage_format is None:
        storage_format = meta.get("storage_format", "parquet")

    def rd(table: str) -> DataFrame:
        df = spark.read.format(storage_format).load(f"{root}/{table}")
        if "pk" in df.columns:
            # hive partition discovery can infer numeric pk values as int;
            # every driver-side cache and RESULT_SCHEMA key pk as string
            df = df.withColumn("pk", F.col("pk").cast("string"))
        return df

    return _index_from_tables(
        spark, root, rd, meta, _path_is_dir(f"{root}/doclens"),
        shard_size=shard_size, k1=k1, b=b, index_fields=index_fields,
        stopwords=stopwords, partitioned=partitioned,
    )


# ---------------------------------------------------------------------------
# Catalog-managed persistence (the production Iceberg route)
# ---------------------------------------------------------------------------

def write_index_tables(
    index: BM25Index,
    prefix: str,
    storage_format: str = "iceberg",
    mode: str = "overwrite",
) -> None:
    """Persist the index star as CATALOG tables ``<prefix>_docs`` /
    ``_terms`` / ``_postings`` / ``_stats`` / ``_doclens`` / ``_meta``.

    With an Iceberg catalog configured (``spark.sql.catalog.<cat>`` =
    ``org.apache.iceberg.spark.SparkCatalog``) and ``prefix`` =
    ``<cat>.<db>.<name>``, every write lands as an Iceberg table —
    snapshot lineage, partition evolution, and time travel come from the
    catalog, not from this code. The identical calls with
    ``storage_format='parquet'`` against ``spark_catalog`` are what the
    sandbox (no Iceberg runtime jars) exercises end-to-end in
    tests/test_persistence_cli.py::test_catalog_table_roundtrip — the
    production swap is the format string plus the catalog prefix.

    Metadata (shard_size/k1/b/fields/stopwords — decode-critical, see
    index_meta) is a single-row JSON ``_meta`` table, so the whole index
    lives in the catalog with no filesystem side-channel. Tables are
    written through _write_tables (pinning and order as in write_index),
    the ``_meta`` table last."""

    def save(name: str, df: DataFrame) -> None:
        wr = df.write.mode(mode).format(storage_format)
        if index.partitioned and name != "stats":
            wr = wr.partitionBy("pk")
        wr.saveAsTable(f"{prefix}_{name}")

    _write_tables(index, save)
    meta = index_meta(index)
    meta["storage_format"] = storage_format
    index.spark.createDataFrame(
        [(json.dumps(meta),)], "meta string"
    ).write.mode(mode).format(storage_format).saveAsTable(f"{prefix}_meta")


def read_index_tables(
    spark: SparkSession,
    prefix: str,
    shard_size: int | None = None,
) -> BM25Index:
    """Load an index persisted by write_index_tables. All parameters come
    from the ``<prefix>_meta`` table (the write-side truth); ``shard_size``
    may be overridden explicitly (decode-critical, same contract as
    read_index)."""
    meta_rows = spark.table(f"{prefix}_meta").collect()
    if len(meta_rows) != 1:
        raise ValueError(
            f"{prefix}_meta: expected exactly one metadata row, got "
            f"{len(meta_rows)}"
        )
    meta = json.loads(meta_rows[0]["meta"])

    def rd(table: str) -> DataFrame:
        df = spark.table(f"{prefix}_{table}")
        if "pk" in df.columns:
            df = df.withColumn("pk", F.col("pk").cast("string"))
        return df

    return _index_from_tables(
        spark, prefix, rd, meta,
        spark.catalog.tableExists(f"{prefix}_doclens"),
        shard_size=shard_size,
    )
