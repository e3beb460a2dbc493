"""Driver-contract queries: one entry per implemented operator
(SURVEY.md §2), each as a (spark, sf_dir) -> DataFrame callable plus an
equivalent DuckDB SQL oracle over the same parquet tables.

Comparison discipline (the driver hashes values order-insensitively but
exactly): every float column is rounded to 4 decimals on BOTH sides, and
every rank/top-k is computed over the ROUNDED score with doc_id ASC
tie-break, so the two systems cannot diverge on float last-bits. All
integer outputs are cast to BIGINT on both sides.

The corpus stand-in is the driver's ``documents`` table
(doc_id, text, lang, source, n_chars): text is plain [a-z0-9_ ] so the
reference ASCII tokenizer == lower + split on non-word, len>=2
(verified: zero rows match '[^ a-z0-9_]' at all SFs).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bm25_spark.functions.analyzer import query_term_counts

K1, B = 1.2, 0.75

FLAGSHIP_QUERY = "data table scan data filter"  # 'data' twice -> qtf 2
FILTER_LANGS = ["en", "fr"]
FILTER_SOURCES = ["src0", "src1", "src2", "src3", "src4"]
TOPK = 10

# ---------------------------------------------------------------- SQL side

_TOK = """
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term
    FROM documents
  ) WHERE length(term) >= 2
"""

def _base_from(tok_sql: str) -> str:
    """The shared index-stats CTE chain over a given tokenizer CTE."""
    return f"""
WITH tok AS ({tok_sql}),
dl AS (
  SELECT d.doc_id, CAST(count(t.term) AS BIGINT) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
idf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         ln(((SELECT n_docs FROM stats) - count(*) + 0.5)
            / (count(*) + 0.5) + 1.0) AS idf
  FROM tf GROUP BY term
)
"""


_BASE = _base_from(_TOK)


def _q_values(query: str, stopwords=None) -> str:
    counts = query_term_counts(query, stopwords)
    rows = ", ".join(f"('{t}', {c})" for t, c in sorted(counts.items()))
    return f"(SELECT * FROM (VALUES {rows}) AS q(term, qtf))"


def _scored_sql(query: str, where_docs: str = "TRUE", stopwords=None) -> str:
    """CTE tail producing scored(doc_id, score) for ``query``."""
    return f"""
, q AS {_q_values(query, stopwords)}
, allowed AS (SELECT doc_id FROM documents WHERE {where_docs})
, scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * idf.idf * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * ((1.0 - {B}) + {B} * dl.dl
                / (SELECT avgdl FROM stats)))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN idf USING (term)
  JOIN dl USING (doc_id)
  JOIN allowed USING (doc_id)
  GROUP BY tf.doc_id
)
"""


# ------------------------------------------------------------- Spark side


def _read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _index(spark: SparkSession, sf_dir: str, partition_col: str | None = None):
    from bm25_spark.operators.indexer import build_index

    return build_index(
        _read_docs(spark, sf_dir),
        text_col="text",
        id_col="doc_id",
        index_fields=("lang", "source"),
        partition_col=partition_col,
    )


def _tok_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_spark.functions.analyzer import make_tokenize_udf

    tok = make_tokenize_udf(None)
    return (
        _read_docs(spark, sf_dir)
        .select("doc_id", F.explode(tok(F.col("text"))).alias("term"))
    )


def q_tokenize(spark, sf_dir):
    return _tok_df(spark, sf_dir)


def q_tf(spark, sf_dir):
    return (
        _tok_df(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def q_doclen(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx.doclens.select("doc_id", F.col("dl").cast("long").alias("dl"))


def q_stats(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx.stats.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 4).alias("avgdl"),
    )


def q_norm(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return (
        idx.doclens.join(F.broadcast(idx.stats.select("pk", "avgdl")), "pk")
        .select(
            "doc_id",
            F.round(
                F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"), 4
            ).alias("norm"),
        )
    )


def q_idf(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx.terms.select(
        "term", F.col("df").cast("long").alias("df"), F.round("idf", 4).alias("idf")
    )


def q_postings_digest(spark, sf_dir):
    """O8 structural digest: per term over all shards — posting count,
    total tf, doc_id span — proves postings are complete and doc-keyed.
    Read off the packed blobs: the count is Σ n, the rest comes from one
    decode per (term, shard) blob."""
    import numpy as np

    from bm25_spark.functions import codec

    idx = _index(spark, sf_dir)
    shard_size = idx.shard_size

    @F.pandas_udf("sum_tf long, min_doc long, max_doc long")
    def digest(data: pd.Series, n: pd.Series, shard: pd.Series) -> pd.DataFrame:
        rows = []
        for d, nn, s in zip(data, n, shard):
            ids, tfs, _ = codec.unpack_postings(
                bytes(d), int(nn), int(s) * shard_size
            )
            rows.append(
                (int(tfs.sum(dtype=np.int64)), int(ids[0]), int(ids[-1]))
            )
        return pd.DataFrame(rows, columns=["sum_tf", "min_doc", "max_doc"])

    e = idx.packed.select(
        "term", "n", digest("data", "n", "shard").alias("p")
    )
    return e.groupBy("term").agg(
        F.sum("n").cast("long").alias("n_postings"),
        F.sum("p.sum_tf").cast("long").alias("sum_tf"),
        F.min("p.min_doc").cast("long").alias("min_doc"),
        F.max("p.max_doc").cast("long").alias("max_doc"),
    )


def q_filter(spark, sf_dir):
    idx = _index(spark, sf_dir)
    from bm25_spark.operators.searcher import _filter_predicate

    pred = _filter_predicate(idx, {"lang": FILTER_LANGS, "source": FILTER_SOURCES})
    return idx.docs.filter(pred).select("doc_id")


def _scored_spark(spark, sf_dir, flt=None, partition_col=None):
    from bm25_spark.operators.searcher import search_batch

    idx = _index(spark, sf_dir, partition_col=partition_col)
    n = _read_docs(spark, sf_dir).count()
    return idx, search_batch(idx, [(0, FLAGSHIP_QUERY)], limit=n, flt=flt)


def q_score(spark, sf_dir):
    _, res = _scored_spark(spark, sf_dir)
    return res.select("doc_id", F.round("score", 4).alias("score"))


def _rounded_topk(res: DataFrame, k: int) -> DataFrame:
    w = Window.orderBy(F.round("score", 4).desc(), F.col("doc_id").asc())
    return (
        res.select("doc_id", F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def q_topk(spark, sf_dir):
    _, res = _scored_spark(spark, sf_dir)
    return _rounded_topk(res, TOPK)


def q_topk_filtered(spark, sf_dir):
    _, res = _scored_spark(
        spark, sf_dir, flt={"lang": FILTER_LANGS, "source": FILTER_SOURCES}
    )
    return _rounded_topk(res, TOPK)


LIST_FILTER_TAGS = ["en", "src3"]


def q_topk_filter_list(spark, sf_dir):
    """Array-valued metadata filter through the FULL search path: a
    tags=array(lang, source) column is indexed as array<string> and the
    filter matches if the value appears anywhere in the list — reference
    list-meta semantics (bm25.dart:487-493, test/bm25_test.dart:706-752).
    Oracle-equivalent: lang IN tags OR source IN tags."""
    from bm25_spark.operators.indexer import build_index
    from bm25_spark.operators.searcher import search_batch

    docs = _read_docs(spark, sf_dir).withColumn(
        "tags", F.array(F.col("lang"), F.col("source"))
    )
    idx = build_index(
        docs,
        text_col="text",
        id_col="doc_id",
        index_fields=("lang", "source", "tags"),
    )
    n = docs.count()
    res = search_batch(
        idx, [(0, FLAGSHIP_QUERY)], limit=n, flt={"tags": LIST_FILTER_TAGS}
    )
    return _rounded_topk(res, TOPK)


def q_partitioned_stats(spark, sf_dir):
    idx = _index(spark, sf_dir, partition_col="lang")
    return idx.stats.select(
        F.col("pk").alias("lang"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 4).alias("avgdl"),
    )


def q_search_in(spark, sf_dir):
    """O17: partition-scoped search with per-partition stats (lang='en')."""
    from bm25_spark.operators.searcher import search_batch

    idx = _index(spark, sf_dir, partition_col="lang")
    n = _read_docs(spark, sf_dir).count()
    res = search_batch(idx, [(0, FLAGSHIP_QUERY)], limit=n, partition_keys=["en"])
    return _rounded_topk(res, TOPK)


def q_empty_query(spark, sf_dir):
    from bm25_spark.operators.searcher import search

    idx = _index(spark, sf_dir)
    return (
        search(idx, "   ", limit=5)
        .select("doc_id", "score")
    )


def q_search_many(spark, sf_dir):
    """O18: multi-partition search + k-way merge with the reference's
    per-partition default-limit-10 quirk (partitioned_bm25.dart:143-153).
    Per-partition cut and global rank both computed over ROUNDED scores so
    Spark and DuckDB cannot diverge on float last-bits."""
    from bm25_spark.operators.searcher import search_batch

    idx = _index(spark, sf_dir, partition_col="lang")
    n = _read_docs(spark, sf_dir).count()
    res = search_batch(
        idx, [(0, FLAGSHIP_QUERY)], limit=n, partition_keys=["en", "fr"]
    )
    r = res.select(
        F.col("pk").alias("lang"), "doc_id", F.round("score", 4).alias("score")
    )
    w_pk = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        r.withColumn("prank", F.row_number().over(w_pk))
        .filter(F.col("prank") <= 10)
        .drop("prank")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
    )


ROCCHIO_REL_IDS = [0, 1, 2]
ROCCHIO_ALPHA, ROCCHIO_BETA = 1.0, 0.75


def q_feedback(spark, sf_dir):
    """O19 Rocchio feedback (extensions.dart:22-139): the expansion is a
    pure function of the corpus once the relevant ids are pinned, so it has
    a full DuckDB oracle (see _rocchio_sql). Scores all docs and takes the
    rounded top-k so float last-bits cannot flip ranks between systems."""
    from bm25_spark.operators.feedback import search_with_feedback

    idx = _index(spark, sf_dir)
    n = _read_docs(spark, sf_dir).count()
    res = search_with_feedback(
        idx,
        FLAGSHIP_QUERY,
        relevant_doc_ids=ROCCHIO_REL_IDS,
        alpha=ROCCHIO_ALPHA,
        beta=ROCCHIO_BETA,
        limit=n,
    )
    return _rounded_topk(res, TOPK)


def _rocchio_sql() -> str:
    """DuckDB transcription of feedback.rocchio_expand + rescore
    (mirrors extensions.dart:42-124): per-occurrence 1/doc_len weights from
    the relevant docs, alpha on query terms, beta*tf_norm/found on doc
    terms, top-30 by (weight DESC, term ASC), reps =
    clamp(floor(1+ln(w)+0.5), 1, 8) when w>1, leftover original query
    terms appended once; the expanded multiset then scores through the
    normal BM25 pipeline as per-term qtf multipliers."""
    import re as _re

    rel = ", ".join(str(i) for i in ROCCHIO_REL_IDS)
    # the reference tokenizes the QUERY with a different splitter (\W+,
    # len>=2, no stopwords — extensions.dart:67-71); static query => the
    # unique token set is computable here at SQL-build time
    qtoks = sorted(
        {
            w
            for w in _re.split(r"\W+", FLAGSHIP_QUERY.lower())
            if len(w) >= 2
        }
    )
    qt_values = ", ".join(f"('{t}')" for t in qtoks)
    return f"""
, rel_len AS (
  SELECT d.doc_id, CAST(count(t.term) AS BIGINT) AS rl
  FROM documents d LEFT JOIN tok t USING (doc_id)
  WHERE d.doc_id IN ({rel})
  GROUP BY d.doc_id
)
, tfreq AS (
  SELECT t.term, sum(1.0 / l.rl) AS v
  FROM tok t JOIN rel_len l USING (doc_id)
  WHERE l.rl > 0
  GROUP BY t.term
)
, qt AS (SELECT * FROM (VALUES {qt_values}) AS q(term))
, weighted AS (
  SELECT term, sum(w) AS w FROM (
    SELECT term, {ROCCHIO_ALPHA} AS w FROM qt
    UNION ALL
    SELECT term, {ROCCHIO_BETA} * v / (SELECT count(*) FROM rel_len)
    FROM tfreq
  ) GROUP BY term
)
, sel AS (SELECT term, w FROM weighted ORDER BY w DESC, term ASC LIMIT 30)
, qexp AS (
  SELECT term,
         CAST(CASE WHEN w > 1
              THEN least(8, greatest(1,
                   CAST(floor(1.0 + ln(w) + 0.5) AS BIGINT)))
              ELSE 1 END AS BIGINT) AS qtf
  FROM sel
  UNION ALL
  SELECT term, CAST(1 AS BIGINT) AS qtf FROM qt
  WHERE term NOT IN (SELECT term FROM sel)
)
, scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * idf.idf * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * ((1.0 - {B}) + {B} * dl.dl
                / (SELECT avgdl FROM stats)))) AS score
  FROM tf
  JOIN qexp q USING (term)
  JOIN idf USING (term)
  JOIN dl USING (doc_id)
  GROUP BY tf.doc_id
)
"""


# O2b: Unicode tokenizer path (text with any non-ASCII char dispatches to
# \p{L}[\p{L}\p{N}_]* on the lowered text — bm25.dart:723-735). Every
# fixture text is non-ASCII so both systems use the Unicode rule; covers
# accent folding-free lowercasing, Cyrillic, Greek, and the
# CJK-run-stays-one-token semantic.
UNICODE_TEXTS = [
    "Café naïve ÉLÈVE déjà",
    "Привет мир тест",
    "Ελληνικά κείμενο αναζήτηση",
    "日本語のテキスト test run",
    "mixed Ünïcode_tok and words",
]


def q_tokenize_unicode(spark, sf_dir):
    from bm25_spark.functions.analyzer import make_tokenize_udf

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(UNICODE_TEXTS)],
        "doc_id long, text string",
    )
    tok = make_tokenize_udf(None)
    return df.select("doc_id", F.explode(tok(F.col("text"))).alias("term"))


def _tokenize_unicode_sql() -> str:
    rows = ", ".join(
        f"({i}, '{t}')" for i, t in enumerate(UNICODE_TEXTS)
    )
    return f"""
SELECT doc_id, term FROM (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text),
                '\\p{{L}}[\\p{{L}}\\p{{N}}_]*')) AS term
  FROM (VALUES {rows}) AS d(doc_id, text)
) WHERE length(term) >= 2
"""


def q_fetch_results(spark, sf_dir):
    """O14: result materialization — scores joined back to document text
    (search_result.dart:26-52 wraps (doc, score); ours is a join)."""
    idx = _index(spark, sf_dir)
    n = _read_docs(spark, sf_dir).count()
    from bm25_spark.operators.searcher import search_batch

    res = search_batch(idx, [(0, FLAGSHIP_QUERY)], limit=n)
    top = _rounded_topk(res, TOPK)
    docs = _read_docs(spark, sf_dir).select("doc_id", "text")
    return top.join(docs, "doc_id").select("doc_id", "rank", "text")


def q_docids(spark, sf_dir):
    """O1: deterministic dense doc_id assignment (docids.assign_doc_ids,
    the scalable sampled-boundary path — driver-frozen quantile bounds,
    no corpus materialization) vs a plain row_number oracle. Reorders by
    (source, orig_id) so the assignment is exercised on a non-trivial
    ordering, not the identity."""
    from bm25_spark.operators.docids import assign_doc_ids

    d = _read_docs(spark, sf_dir).select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    out = assign_doc_ids(d, order_cols=("source", "orig_id"), method="sample")
    return out.select("orig_id", F.col("doc_id").cast("long").alias("new_id"))


# O3: stopword builds change dl (dl = POST-stopword token count,
# bm25.dart:427) and therefore norms and scores; 'data' is also a query
# term of the flagship query, so the query-side stopword drop is covered.
CONTRACT_STOPWORDS = ("data", "the", "and", "for")


def _stop_tok_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in CONTRACT_STOPWORDS)
    return f"""
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term
    FROM documents
  ) WHERE length(term) >= 2 AND term NOT IN ({stoplist})
"""


def q_topk_stopwords(spark, sf_dir):
    from bm25_spark.operators.indexer import build_index
    from bm25_spark.operators.searcher import search_batch

    idx = build_index(
        _read_docs(spark, sf_dir),
        text_col="text",
        id_col="doc_id",
        index_fields=("lang", "source"),
        stopwords=CONTRACT_STOPWORDS,
    )
    n = _read_docs(spark, sf_dir).count()
    res = search_batch(idx, [(0, FLAGSHIP_QUERY)], limit=n)
    return _rounded_topk(res, TOPK)


# ----------------------------------------------------- training-data ops

NEARDUP_COS = 0.3  # synthetic embeddings: max pair cosine ~0.51
JACCARD_T = 0.1
MINHASH_PERMS = 8
SIMHASH_BITS = 60  # full hex60 width — the scale default (wide band keys)


def q_token_stats(spark, sf_dir):
    from bm25_spark.operators.textstats import token_stats

    return token_stats(_read_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from bm25_spark.operators.textstats import quality_score

    return quality_score(_read_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from bm25_spark.operators.textstats import lang_id

    return lang_id(_read_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from bm25_spark.operators.textstats import fingerprint

    return fingerprint(_read_docs(spark, sf_dir))


def q_repetition(spark, sf_dir):
    from bm25_spark.operators.textstats import repetition_stats

    return repetition_stats(_read_docs(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    from bm25_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_read_docs(spark, sf_dir))


def q_jaccard_pairs(spark, sf_dir):
    from bm25_spark.operators.dedup import jaccard_pairs

    # max_shingle_df=None: the DuckDB oracle computes the UNCAPPED
    # semantics, so the contract must too — with a cap, a corpus carrying
    # a shingle hotter than the cap could lose hot-only-overlap pairs and
    # diverge. The capped path (candidate-gen bound + exact full-set
    # verify) is covered by unit tests (test_training_ops).
    return jaccard_pairs(
        _read_docs(spark, sf_dir), n=3, threshold=JACCARD_T,
        max_shingle_df=None,
    )


def q_minhash_sig(spark, sf_dir):
    """The PRODUCTION minhash_signatures operator (one groupBy(doc_id)
    with num_perm MIN aggregates), flattened to (doc_id, perm, mh) rows —
    array columns hash poorly across engines, and posexplode preserves
    the per-permutation value exactly."""
    from bm25_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(
        _read_docs(spark, sf_dir), num_perm=MINHASH_PERMS, n=3
    )
    return sig.select(
        "doc_id", F.posexplode("sig").alias("perm", "mh")
    ).select(
        "doc_id", F.col("perm").cast("long").alias("perm"), "mh"
    )


def q_simhash(spark, sf_dir):
    from bm25_spark.operators.dedup import simhash

    return simhash(_read_docs(spark, sf_dir), bits=SIMHASH_BITS)


MINHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 2


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash banding LSH candidates verified with exact shingle Jaccard
    (the end-to-end near-dup pipeline, not just the signatures)."""
    from bm25_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read_docs(spark, sf_dir),
        num_perm=MINHASH_PERMS,
        bands=MINHASH_BANDS,
        n=3,
        threshold=JACCARD_T,
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole band blocking + hamming
    verify."""
    from bm25_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _read_docs(spark, sf_dir),
        bits=SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


def q_emb_neardup(spark, sf_dir):
    from bm25_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb, threshold=NEARDUP_COS)


def q_ann_topk(spark, sf_dir):
    from bm25_spark.operators.similarity import brute_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_topk(emb, [(0, [float(x) for x in qvec])], k=TOPK)


ANN_LSH_PLANES = 6
ANN_LSH_DIM = 64


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate ANN (LSH multiprobe, hamming-1 probes). Hyperplanes are
    md5-derived integers (similarity.hyperplanes), so the DuckDB oracle
    reproduces signature + probe-set + candidate cosine exactly
    (_lsh_ann_sql); recall vs brute force is additionally asserted in
    tests."""
    from bm25_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_topk(
        emb, [(0, [float(x) for x in qvec])], k=TOPK, n_planes=ANN_LSH_PLANES
    )


ANN_IVF_NLIST = 8
ANN_IVF_NPROBE = 3


def q_ann_ivf_topk(spark, sf_dir):
    """Approximate ANN (IVF: nearest-centroid cells, nprobe-cell search).
    Centroids are the nlist corpus vectors with the smallest md5(id) —
    deterministic, so the DuckDB oracle re-derives the identical centroid
    set, cell assignment (argmax cosine, ties to the smaller cell) and
    probe set in SQL; recall vs brute force is additionally asserted in
    tests."""
    from bm25_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_topk(
        emb,
        [(0, [float(x) for x in qvec])],
        k=TOPK,
        nlist=ANN_IVF_NLIST,
        nprobe=ANN_IVF_NPROBE,
    )


def q_ann_ivf_indexed(spark, sf_dir):
    """Persisted IVF index roundtrip (ann_index): write the cell-
    partitioned parquet + centroid manifest, then answer the SAME query
    as sim_ann_ivf against the stored index — bit-identical by
    construction (same md5-seeded centroids, same cast-to-double
    vectors, same probe float-order), so it shares _ivf_ann_sql as its
    oracle. The read is statically pruned to the probed cell
    partitions."""
    import tempfile

    from bm25_spark.operators.ann_index import ann_index_topk, write_ann_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = tempfile.mkdtemp(prefix="annidx_")
    write_ann_index(emb, path, nlist=ANN_IVF_NLIST)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_index_topk(
        spark, path, [(0, [float(x) for x in qvec])], k=TOPK,
        nprobe=ANN_IVF_NPROBE,
    )


def _ivf_ann_sql() -> str:
    """DuckDB transcription of similarity.ivf_topk for query vec_id=0:
    seeds = nlist vectors by md5(id) order, cells = per-vector argmax
    cosine over seeds (ties -> smaller cell), probe = nprobe cells nearest
    the query, then exact cosine top-k over the probed cells only."""
    sim = (
        "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
        "* sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
seeds AS (
  SELECT CAST(row_number()
              OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS INT) AS cell,
         e AS c
  FROM v
  QUALIFY cell < {ANN_IVF_NLIST}
),
assign AS (
  SELECT v.vec_id, v.e, s.cell,
         {sim.format(a='v.e', b='s.c')} AS csim
  FROM v, seeds s
),
cells AS (
  SELECT vec_id, e, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY csim DESC, cell ASC) AS rn
    FROM assign
  ) WHERE rn = 1
),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
qprobe AS (
  SELECT s.cell FROM seeds s, q
  ORDER BY {sim.format(a='q.qe', b='s.c')} DESC, s.cell ASC
  LIMIT {ANN_IVF_NPROBE}
),
scored AS (
  SELECT c.vec_id AS id,
         round({sim.format(a='c.e', b='q.qe')}, 4) AS cosine
  FROM cells c JOIN qprobe USING (cell), q
)
SELECT CAST(0 AS BIGINT) AS query_id, id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, id ASC) AS BIGINT)
         AS rank
FROM scored QUALIFY rank <= {TOPK}
"""


def _lsh_ann_sql() -> str:
    """DuckDB transcription of similarity.lsh_topk for query vec_id=0:
    the same md5-derived hyperplanes are inlined as literals, signatures are
    sign-of-projection bitmaps, and the probe set is the query's bucket
    plus all hamming-1 neighbours (multiprobe_hamming=1 default)."""
    from bm25_spark.operators.similarity import hyperplanes

    planes = hyperplanes(ANN_LSH_PLANES, ANN_LSH_DIM)
    pl_values = ", ".join(
        f"({p}, {list(plane)!r}::DOUBLE[])" for p, plane in enumerate(planes)
    )
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
pl AS (SELECT * FROM (VALUES {pl_values}) AS p(pid, pv)),
proj AS (SELECT v.vec_id, pl.pid, list_dot_product(v.e, pl.pv) AS d
         FROM v, pl),
sig AS (
  SELECT vec_id,
         CAST(coalesce(sum(CASE WHEN d > 0
                           THEN CAST(1 AS BIGINT) << pid ELSE 0 END), 0)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
qs AS (SELECT bucket AS s FROM sig WHERE vec_id = 0),
probes AS (
  SELECT DISTINCT bucket FROM (
    SELECT s AS bucket FROM qs
    UNION ALL
    SELECT xor(s, CAST(1 AS BIGINT) << p) AS bucket
    FROM qs, unnest(generate_series(0, {ANN_LSH_PLANES - 1})) AS g(p)
  )
),
cand AS (SELECT sig.vec_id FROM sig JOIN probes USING (bucket)),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id AS id,
         round(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine
  FROM v JOIN cand USING (vec_id), q
)
SELECT CAST(0 AS BIGINT) AS query_id, id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, id ASC) AS BIGINT)
         AS rank
FROM scored QUALIFY rank <= {TOPK}
"""


def q_mm_decode_meta(spark, sf_dir):
    from bm25_spark.operators.multimodal import attach_blobs, decode_images

    blobs = attach_blobs(_read_docs(spark, sf_dir))
    # backend pinned to 'stub': the DuckDB oracle re-derives the stub's
    # md5 pixels; 'auto' (the operator default) is environment-dependent
    return decode_images(blobs, backend="stub").select(
        "doc_id",
        "byte_len",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        # explicit-stub rows are decode_ok by definition (the stub IS the
        # configured decoder); pinning it here keeps the column's
        # semantics oracle-visible
        "decode_ok",
    )


def q_mm_resize(spark, sf_dir):
    """Resize = stub-decode + nearest-neighbor 8x8 subsample. The contract
    row carries (out_len, sum of pixel-byte values) rather than the raw
    blob: the harness stringifies object columns, and Spark bytearray /
    DuckDB bytes render differently — a numeric checksum is representation-
    neutral while still pinning every selected byte (the oracle re-derives
    the md5-generated pixels AND numpy's linspace index arithmetic in
    SQL)."""
    from bm25_spark.operators.multimodal import attach_blobs, resize_images

    resized = resize_images(
        attach_blobs(_read_docs(spark, sf_dir)), backend="stub"
    )

    def checksum(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            arrs = [np.frombuffer(bytes(b), dtype=np.uint8) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "out_len": pd.Series([a.size for a in arrs], dtype="int64"),
                    "sum_bytes": pd.Series(
                        [int(a.astype("int64").sum()) for a in arrs],
                        dtype="int64",
                    ),
                }
            )

    return resized.mapInPandas(
        checksum,
        schema="doc_id long, out_len long, sum_bytes long",
    )


def q_mm_frames(spark, sf_dir):
    """Frame sampling: blob split into 4 deterministic chunks. Frames are
    identified by (byte length, md5) — the corpus is ASCII so DuckDB's
    char-level substr is byte-accurate and VARCHAR md5 equals the frame
    bytes' md5."""
    from bm25_spark.operators.multimodal import attach_blobs, sample_frames

    frames = sample_frames(attach_blobs(_read_docs(spark, sf_dir)))
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_tokenize": q_tokenize,
        "bm25_tf": q_tf,
        "bm25_doclen": q_doclen,
        "bm25_stats": q_stats,
        "bm25_norm": q_norm,
        "bm25_idf": q_idf,
        "bm25_postings_digest": q_postings_digest,
        "bm25_filter": q_filter,
        "bm25_score": q_score,
        "bm25_topk": q_topk,
        "bm25_topk_filtered": q_topk_filtered,
        "bm25_filter_list": q_topk_filter_list,
        "bm25_partitioned_stats": q_partitioned_stats,
        "bm25_search_in": q_search_in,
        "bm25_search_many": q_search_many,
        "bm25_feedback": q_feedback,
        "bm25_empty_query": q_empty_query,
        "bm25_docids": q_docids,
        "bm25_topk_stopwords": q_topk_stopwords,
        "bm25_tokenize_unicode": q_tokenize_unicode,
        "bm25_fetch_results": q_fetch_results,
        "ts_token_stats": q_token_stats,
        "ts_quality": q_quality,
        "ts_lang_id": q_lang_id,
        "ts_fingerprint": q_fingerprint,
        "ts_repetition": q_repetition,
        "dd_exact": q_dedup_exact,
        "dd_jaccard": q_jaccard_pairs,
        "dd_minhash_sig": q_minhash_sig,
        "dd_simhash": q_simhash,
        "dd_simhash_pairs": q_simhash_pairs,
        "dd_lsh_pairs": q_minhash_lsh_pairs,
        "dd_emb_neardup": q_emb_neardup,
        "sim_ann_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "sim_ann_ivf": q_ann_ivf_topk,
        "sim_ann_ivf_indexed": q_ann_ivf_indexed,
        "mm_decode_meta": q_mm_decode_meta,
        "mm_resize": q_mm_resize,
        "mm_frames": q_mm_frames,
    }


def oracle_sql() -> dict[str, str]:
    filter_where = (
        f"lang IN ({', '.join(repr(x) for x in FILTER_LANGS)}) "
        f"AND source IN ({', '.join(repr(x) for x in FILTER_SOURCES)})"
    )
    topk_tail = f"""
SELECT doc_id, round(score, 4) AS score,
       CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {TOPK}
"""
    # per-lang partitioned pipeline (O16/O17)
    part_base = f"""
WITH tok AS ({_TOK}),
docs_pk AS (SELECT doc_id, lang AS pk FROM documents),
dl AS (
  SELECT d.doc_id, p.pk, CAST(count(t.term) AS BIGINT) AS dl
  FROM documents d
  JOIN docs_pk p USING (doc_id)
  LEFT JOIN tok t USING (doc_id)
  GROUP BY d.doc_id, p.pk
),
stats AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
  FROM dl GROUP BY pk
),
tf AS (
  SELECT t.doc_id, p.pk, t.term, CAST(count(*) AS BIGINT) AS tf
  FROM tok t JOIN docs_pk p USING (doc_id) GROUP BY t.doc_id, p.pk, t.term
),
idf AS (
  SELECT tf.pk, tf.term, CAST(count(*) AS BIGINT) AS df,
         ln((s.n_docs - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
  FROM tf JOIN stats s ON s.pk = tf.pk
  GROUP BY tf.pk, tf.term, s.n_docs
)
"""
    return {
        "bm25_tokenize": _TOK,
        "bm25_tf": f"WITH tok AS ({_TOK}) SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term",
        "bm25_doclen": _BASE + "SELECT doc_id, dl FROM dl",
        "bm25_stats": _BASE + "SELECT n_docs, round(avgdl, 4) AS avgdl FROM stats",
        "bm25_norm": _BASE
        + f"SELECT doc_id, round((1.0 - {B}) + {B} * dl / (SELECT avgdl FROM stats), 4) AS norm FROM dl",
        "bm25_idf": _BASE + "SELECT term, df, round(idf, 4) AS idf FROM idf",
        "bm25_postings_digest": _BASE
        + """SELECT term, CAST(count(*) AS BIGINT) AS n_postings,
                    CAST(sum(tf) AS BIGINT) AS sum_tf,
                    CAST(min(doc_id) AS BIGINT) AS min_doc,
                    CAST(max(doc_id) AS BIGINT) AS max_doc
             FROM tf GROUP BY term""",
        "bm25_filter": f"SELECT doc_id FROM documents WHERE {filter_where}",
        "bm25_score": _BASE
        + _scored_sql(FLAGSHIP_QUERY)
        + "SELECT doc_id, round(score, 4) AS score FROM scored",
        "bm25_topk": _BASE + _scored_sql(FLAGSHIP_QUERY) + topk_tail,
        "bm25_topk_filtered": _BASE
        + _scored_sql(FLAGSHIP_QUERY, filter_where)
        + topk_tail,
        "bm25_filter_list": _BASE
        + _scored_sql(
            FLAGSHIP_QUERY,
            # tags = [lang, source]: "any list element in filter values"
            # == lang matches OR source matches
            "lang IN ({v}) OR source IN ({v})".format(
                v=", ".join(repr(x) for x in LIST_FILTER_TAGS)
            ),
        )
        + topk_tail,
        "bm25_partitioned_stats": part_base
        + "SELECT pk AS lang, n_docs, round(avgdl, 4) AS avgdl FROM stats",
        "bm25_search_in": part_base
        + f"""
, q AS {_q_values(FLAGSHIP_QUERY)}
, scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * idf.idf * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * ((1.0 - {B}) + {B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN idf ON idf.pk = tf.pk AND idf.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN stats s ON s.pk = tf.pk
  WHERE tf.pk = 'en'
  GROUP BY tf.doc_id
)
"""
        + topk_tail,
        "bm25_search_many": part_base
        + f"""
, q AS {_q_values(FLAGSHIP_QUERY)}
, scored AS (
  SELECT tf.pk, tf.doc_id,
         sum(q.qtf * idf.idf * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * ((1.0 - {B}) + {B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN idf ON idf.pk = tf.pk AND idf.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN stats s ON s.pk = tf.pk
  WHERE tf.pk IN ('en', 'fr')
  GROUP BY tf.pk, tf.doc_id
)
, r AS (SELECT pk AS lang, doc_id, round(score, 4) AS score FROM scored)
, pp AS (
  SELECT * FROM r
  QUALIFY row_number() OVER (
    PARTITION BY lang ORDER BY score DESC, doc_id ASC) <= 10
)
SELECT lang, doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM pp QUALIFY rank <= {TOPK}
""",
        "bm25_feedback": _BASE + _rocchio_sql() + topk_tail,
        "bm25_empty_query": "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score WHERE FALSE",
        "bm25_docids": (
            "SELECT doc_id AS orig_id, "
            "CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) "
            "AS new_id FROM documents"
        ),
        "bm25_topk_stopwords": _base_from(_stop_tok_sql())
        + _scored_sql(FLAGSHIP_QUERY, stopwords=CONTRACT_STOPWORDS)
        + topk_tail,
        "bm25_tokenize_unicode": _tokenize_unicode_sql(),
        "bm25_fetch_results": _BASE
        + _scored_sql(FLAGSHIP_QUERY)
        + f"""
, top AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id ASC)
              AS BIGINT) AS rank
  FROM scored
  QUALIFY rank <= {TOPK}
)
SELECT t.doc_id, t.rank, d.text FROM top t JOIN documents d USING (doc_id)
""",
        **_training_ops_oracles(),
    }


# DuckDB fragments shared by the training-op oracles
_TOKS_CTE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> length(x) >= 2) AS toks
  FROM documents
)
"""

_SHINGLES_CTE = (
    _TOKS_CTE
    + """
, sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(generate_series(1, CASE WHEN len(toks) >= 3
                                         THEN len(toks) - 2 ELSE 0 END)) AS g(i)
)
"""
)


def _simhash_cte() -> str:
    """CTE chain ending in s(doc_id, simhash) — shared by the simhash and
    simhash-pairs oracles."""
    return (
        _TOKS_CTE
        + f"""
, tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT >> bit) & 1 = 1
                  THEN tf ELSE -tf END) AS v
  FROM tf, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b(bit)
  GROUP BY doc_id, bit
),
s AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
"""
    )


def _simhash_pairs_sql() -> str:
    nb = SIMHASH_MAX_HAMMING + 1
    width = SIMHASH_BITS // nb
    return (
        _simhash_cte()
        + f"""
, keyed AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {width})) & {(1 << width) - 1} AS key
  FROM s, unnest(generate_series(0, {nb - 1})) AS b(band)
)
, cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         a.simhash AS ha, b.simhash AS hb
  FROM keyed a JOIN keyed b USING (band, key)
  WHERE a.doc_id < b.doc_id
)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
"""
    )


def _minhash_lsh_pairs_sql() -> str:
    r = MINHASH_PERMS // MINHASH_BANDS
    return (
        _SHINGLES_CTE
        + f"""
, sig AS (
  SELECT doc_id, CAST(perm AS BIGINT) AS perm,
         min(md5(perm::VARCHAR || '|' || shingle)) AS mh
  FROM sh, unnest(generate_series(0, {MINHASH_PERMS - 1})) AS p(perm)
  GROUP BY doc_id, perm
)
, banded AS (
  SELECT doc_id, perm // {r} AS band,
         md5(string_agg(mh, ',' ORDER BY perm)) AS bucket
  FROM sig GROUP BY doc_id, perm // {r}
)
, cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) sz FROM sh GROUP BY doc_id)
, inter AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
)
SELECT a, b, jaccard FROM (
  SELECT i.a, i.b,
         round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
) WHERE jaccard >= {JACCARD_T}
"""
    )


def _training_ops_oracles() -> dict[str, str]:
    from bm25_spark.operators.textstats import (
        LANG_ORDER,
        STOPWORDS_EN,
        lang_norm_sql,
        lid_score_sql,
    )

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    # pattern-profile LID mirror: the SAME generator the Spark operator
    # parses via F.expr, retargeted to DuckDB dialect (// integer
    # division, doubled-quote escape) — grouping/weighting/balancing
    # logic lives once in textstats.lid_score_sql, so the engines cannot
    # drift arithmetically; argmax keeps the identical first-in-
    # LANG_ORDER tie-break
    lang_score_sql = ",\n         ".join(
        f"({lid_score_sql(lang, intdiv='//', squote=chr(39) * 2)})"
        f" AS s_{lang}"
        for lang in LANG_ORDER
    )
    lang_max = "greatest(" + ", ".join(f"s_{L}" for L in LANG_ORDER) + ")"
    lang_case = "\n            ".join(
        f"WHEN s_{L} = m THEN '{L}'" for L in LANG_ORDER
    )
    jacc_tail = f"""
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a, b, jaccard FROM (
  SELECT i.a, i.b,
         round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
) WHERE jaccard >= {JACCARD_T}
"""
    emb_cos = (
        "list_dot_product(a.e, b.e) / "
        "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
    )
    return {
        "ts_token_stats": """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))
         AS BIGINT) AS bpe_tokens
FROM documents""",
        "ts_quality": _TOKS_CTE
        + f"""
, q AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> list_contains([{stoplist}], x))) * 1.0
             / len(toks) ELSE 0.0 END AS sr,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
         ELSE 0.0 END AS ml
  FROM t
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       round(sr, 4) AS stopword_ratio, round(ml, 4) AS mean_token_len,
       round((CASE WHEN n BETWEEN 5 AND 500 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN sr >= 0.0 AND sr <= 0.4 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 0.25 ELSE 0.0 END), 4)
         AS quality
FROM q""",
        "ts_lang_id": f"""
WITH s AS (
  SELECT doc_id,
         {lang_norm_sql(flags=", 'g'")} AS s
  FROM documents
), sc AS (
  SELECT doc_id,
         {lang_score_sql}
  FROM s
), m AS (
  SELECT *, {lang_max} AS m FROM sc
)
SELECT doc_id,
       CASE WHEN m <= 0 THEN 'und'
            {lang_case}
            END AS lang_pred
FROM m""",
        "ts_repetition": _TOKS_CTE
        + """
, ln AS (
  SELECT doc_id,
         list_filter(list_transform(str_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM documents
), lstat AS (
  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         CASE WHEN len(lines) > 0 THEN
           round((len(lines) - len(list_distinct(lines))) * 1.0
                 / len(lines), 4)
         ELSE 0.0 END AS dup_line_frac
  FROM ln
), b AS (
  SELECT doc_id, len(toks) AS n_toks, u.bigram
  FROM t, UNNEST(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])) AS u(bigram)
  WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, n_toks, bigram, count(*) AS c FROM b GROUP BY ALL
), m AS (
  SELECT doc_id, round(max(c) * 2.0 / max(n_toks), 4) AS top_bigram_frac
  FROM c GROUP BY doc_id
)
SELECT l.doc_id, l.n_lines, l.dup_line_frac,
       coalesce(m.top_bigram_frac, 0.0) AS top_bigram_frac
FROM lstat l LEFT JOIN m ON l.doc_id = m.doc_id""",
        "ts_fingerprint": _TOKS_CTE
        + "SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t",
        "dd_exact": _TOKS_CTE
        + """
, k AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS k FROM t),
g AS (SELECT k, min(doc_id) AS group_id, CAST(count(*) AS BIGINT) AS group_size
      FROM k GROUP BY k)
SELECT k.doc_id, g.group_id, g.group_size,
       k.doc_id = g.group_id AS keep
FROM k JOIN g USING (k)""",
        "dd_jaccard": _SHINGLES_CTE + jacc_tail,
        "dd_minhash_sig": _SHINGLES_CTE
        + f"""
SELECT doc_id, CAST(perm AS BIGINT) AS perm,
       min(md5(perm::VARCHAR || '|' || shingle)) AS mh
FROM sh, unnest(generate_series(0, {MINHASH_PERMS - 1})) AS p(perm)
GROUP BY doc_id, perm""",
        "dd_simhash": _simhash_cte() + "SELECT doc_id, simhash FROM s",
        "dd_simhash_pairs": _simhash_pairs_sql(),
        "dd_lsh_pairs": _minhash_lsh_pairs_sql(),
        "dd_emb_neardup": f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings)
SELECT a, b, cosine FROM (
  SELECT a.vec_id AS a, b.vec_id AS b, round({emb_cos}, 4) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE cosine >= {NEARDUP_COS}""",
        "sim_ann_topk": f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id AS id,
         round(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine
  FROM v, q
)
SELECT CAST(0 AS BIGINT) AS query_id, id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {TOPK}""",
        "ann_lsh_topk": _lsh_ann_sql(),
        "sim_ann_ivf": _ivf_ann_sql(),
        "sim_ann_ivf_indexed": _ivf_ann_sql(),
        "mm_decode_meta": """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(4 + (('0x' || substr(md5(text), 1, 2))::BIGINT % 13) AS BIGINT)
         AS width,
       CAST(4 + (('0x' || substr(md5(text), 3, 2))::BIGINT % 13) AS BIGINT)
         AS height,
       TRUE AS decode_ok
FROM documents""",
        # resize = stub-decode (pixels from repeated md5(blob||'px') bytes)
        # + numpy-linspace 8x8 nearest-neighbor subsample; the SQL re-derives
        # BOTH: pixel k of the fake image is hex pair (k mod 16) of
        # md5(text||'px'), and linspace index i of n is trunc(i*(n-1)/7.0)
        # in f64 (numpy computes the same product; the endpoint is pinned
        # exactly as numpy pins y[-1] = stop)
        "mm_resize": """
WITH dims AS (
  SELECT doc_id,
         4 + (('0x' || substr(md5(text), 1, 2))::BIGINT % 13) AS w,
         4 + (('0x' || substr(md5(text), 3, 2))::BIGINT % 13) AS h,
         md5(text || 'px') AS rng_hex
  FROM documents
),
idx AS (SELECT unnest(range(8)) AS i),
sel AS (
  SELECT d.doc_id, d.w, d.rng_hex,
         CASE WHEN r.i = 7 THEN d.h - 1
              ELSE CAST(trunc(CAST(r.i AS DOUBLE) * ((d.h - 1) / 7.0))
                        AS BIGINT) END AS y,
         CASE WHEN c.i = 7 THEN d.w - 1
              ELSE CAST(trunc(CAST(c.i AS DOUBLE) * ((d.w - 1) / 7.0))
                        AS BIGINT) END AS x
  FROM dims d, idx r, idx c
),
px AS (
  SELECT doc_id,
         ('0x' || substr(rng_hex,
                         (((y * w + x) * 3 + ch.i) % 16) * 2 + 1, 2))::BIGINT
           AS byteval
  FROM sel, (SELECT unnest(range(3)) AS i) ch
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS out_len,
       CAST(sum(byteval) AS BIGINT) AS sum_bytes
FROM px GROUP BY doc_id""",
        # frames: byte-chunk i of 4, step = max(1, len/4); the test corpus
        # is ASCII (octet_length == length for every sf dir), so char-level
        # substr is byte-accurate and VARCHAR md5 = md5 of the frame bytes;
        # past-the-end slices are '' on both sides
        "mm_frames": """
WITH f AS (
  SELECT doc_id, text,
         greatest(1, length(text) // 4) AS step,
         unnest(range(4)) AS frame_idx
  FROM documents
),
sliced AS (
  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         substr(text, CAST(frame_idx * step + 1 AS BIGINT),
                CAST(step AS BIGINT)) AS frame
  FROM f
)
SELECT doc_id, frame_idx,
       CAST(length(frame) AS BIGINT) AS frame_len,
       md5(frame) AS frame_md5
FROM sliced""",
    }
