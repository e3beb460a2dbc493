"""Property-based engine ≡ oracle parity (SURVEY §5c): random small
corpora and queries, the packed Spark engine must agree with the pure-
Python reference oracle on candidate sets, scores (within float
tolerance), and ranking up to near-tie permutations.

Randomness deliberately covers: empty documents, duplicate documents,
repeated query terms, unknown query terms, all-stopword queries, and
stopword builds.
"""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bm25_spark.operators.indexer import build_index, read_index, write_index
from bm25_spark.operators.packed import search_packed
from bm25_spark.operators.searcher import search_batch, search_in, search_many
from bm25_spark.oracle import OracleBM25, OraclePartitionedBM25

VOCAB = [
    "data", "table", "scan", "filter", "join", "agg", "cat", "dog",
    "fox", "spark", "query", "the", "and", "row", "key",
]
STOP = frozenset({"the", "and"})

doc_s = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=25).map(
    " ".join
)
corpus_s = st.lists(doc_s, min_size=1, max_size=25)
query_s = st.lists(
    st.sampled_from(VOCAB + ["zzunknown"]), min_size=1, max_size=5
).map(" ".join)


def _tie_groups(ranked, tol=1e-8):
    """[(doc, score)...] desc -> list of doc-sets of near-equal score."""
    groups, cur, cur_s = [], [], None
    for d, s in ranked:
        if cur and abs(s - cur_s) > tol:
            groups.append(cur)
            cur = []
        cur.append(d)
        cur_s = s
    if cur:
        groups.append(cur)
    return groups


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    corpus=corpus_s,
    queries=st.lists(query_s, min_size=1, max_size=3),
    use_stop=st.booleans(),
)
def test_packed_engine_matches_oracle(spark, corpus, queries, use_stop):
    stop = STOP if use_stop else None
    oracle = OracleBM25(corpus, stopwords=set(stop) if stop else None)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    idx = build_index(
        df,
        text_col="text",
        id_col="doc_id",
        index_fields=(),
        stopwords=stop,
        shard_size=8,  # force multiple shards + multi-run merges
    )
    n = len(corpus)
    res = search_batch(idx, list(enumerate(queries)), limit=max(n, 1))
    by_q: dict[int, list] = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, q in enumerate(queries):
        want = oracle.search(q, limit=max(n, 1))
        got = sorted(by_q.get(qid, []))
        # identical candidate sets and per-doc scores
        got_scores = {d: s for _, d, s in got}
        want_scores = dict(want)
        assert set(got_scores) == set(want_scores), q
        for d, s in want_scores.items():
            assert abs(got_scores[d] - s) <= 1e-9, (q, d, s, got_scores[d])
        # ranking agrees up to permutations within near-tie groups
        got_order = [d for _, d, _ in got]
        pos = 0
        for grp in _tie_groups(want):
            assert sorted(got_order[pos : pos + len(grp)]) == sorted(grp), q
            pos += len(grp)
    # the distributed cluster scorer (block-max WAND in applyInPandas)
    # agrees with the oracle too — first query keeps runtime sane
    q0 = queries[0]
    want0 = dict(oracle.search(q0, limit=max(n, 1)))
    got0 = {
        r["doc_id"]: r["score"]
        for r in search_packed(
            idx, [(0, q0)], limit=max(n, 1), force_cluster=True
        ).collect()
    }
    assert set(got0) == set(want0), q0
    for d, s in want0.items():
        assert abs(got0[d] - s) <= 1e-9, (q0, d)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n_docs=st.integers(1, 400),
    shard_size=st.integers(1, 400),
    n_queries=st.integers(1, 12),
    k=st.integers(1, 20),
    filtered=st.booleans(),
    dense_ratio=st.sampled_from([0.0, 8.0, 1e18]),
)
def test_batch_kernel_matches_per_query(
    seed, n_docs, shard_size, n_queries, k, filtered, dense_ratio
):
    """One score_shard call over a whole query batch — with the sparse,
    the measured or the dense accumulator — returns, for every query,
    exactly (ids, order, raw float scores) what a call with that query
    alone returns, in both the pruned and the unpruned mode, over random
    corpora (lists past one block included) and filter masks."""
    import functools

    from test_packed import kernel_shards, kernel_terms

    from bm25_spark.operators import packed as packed_mod

    rng = np.random.default_rng(seed)
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(0, 12))))
        for _ in range(n_docs)
    ]
    queries = [
        " ".join(rng.choice(VOCAB + ["zzq"], size=int(rng.integers(1, 5))))
        for _ in range(n_queries)
    ]
    if not any(texts):
        return
    oracle = OracleBM25(texts, stopwords=set(STOP))
    mask = None
    allow = np.flatnonzero(rng.random(n_docs) < 0.5)
    if filtered and len(allow):
        mask = functools.partial(packed_mod._in_sorted, allow)
    for s, blobs in kernel_shards(oracle, shard_size).items():
        terms = kernel_terms(oracle, queries, blobs)
        args = (blobs, s * shard_size, oracle.avgdl, oracle.k1, oracle.b, k)
        default, packed_mod._DENSE_RATIO = packed_mod._DENSE_RATIO, dense_ratio
        try:
            slot, ids, scores = packed_mod.score_shard(terms, *args, mask)
        finally:
            packed_mod._DENSE_RATIO = default
        for j, tq in enumerate(terms):
            m = slot == j
            for prune in (True, False):
                one = packed_mod.score_shard([tq], *args, mask, None, prune)
                assert np.array_equal(one[1], ids[m]), (s, j, prune)
                assert np.array_equal(one[2], scores[m]), (s, j, prune)


# ---------------------------------------------------------------------------
# round 5: property breadth — unicode, filters, partitions, round-trip
# ---------------------------------------------------------------------------

UNI_VOCAB = [
    "café", "über", "naïve", "groß", "łódź", "жизнь", "данные", "être",
    "mañana", "çocuk", "spark", "table", "k2",
]
uni_doc_s = st.lists(st.sampled_from(UNI_VOCAB), min_size=0, max_size=12).map(
    " ".join
)
uni_query_s = st.lists(
    st.sampled_from(UNI_VOCAB + ["zzunknown"]), min_size=1, max_size=4
).map(" ".join)


def _assert_engine_matches_oracle(res_rows, oracle, queries, n):
    by_q: dict[int, dict[int, float]] = {}
    for r in res_rows:
        by_q.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    for qid, (q, flt) in enumerate(queries):
        want = dict(oracle.search(q, limit=max(n, 1), flt=flt))
        got = by_q.get(qid, {})
        assert set(got) == set(want), (q, flt)
        for d, s in want.items():
            assert abs(got[d] - s) <= 1e-9, (q, d, s, got[d])


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    corpus=st.lists(uni_doc_s, min_size=1, max_size=15),
    queries=st.lists(uni_query_s, min_size=1, max_size=3),
)
def test_unicode_engine_matches_oracle(spark, corpus, queries):
    """Mixed-script corpora force the analyzer's unicode path (a doc with
    any non-ascii char routes to the `[^\\W\\d_]\\w*` rule); engine candidate
    sets and scores must equal the pure-Python oracle's."""
    oracle = OracleBM25(corpus)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    idx = build_index(
        df, text_col="text", id_col="doc_id", index_fields=(), shard_size=8
    )
    n = len(corpus)
    res = search_batch(idx, list(enumerate(queries)), limit=max(n, 1))
    _assert_engine_matches_oracle(
        res.collect(), oracle, [(q, None) for q in queries], n
    )


META_LANGS = ["aa", "bb", "cc"]
META_SRCS = ["x", "y"]
flt_s = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {"lang": st.lists(st.sampled_from(META_LANGS), min_size=1,
                          max_size=2, unique=True)}
    ),
    st.fixed_dictionaries(
        {
            "lang": st.lists(st.sampled_from(META_LANGS), min_size=1,
                             max_size=2, unique=True),
            "src": st.lists(st.sampled_from(META_SRCS), min_size=1,
                            max_size=2, unique=True),
        }
    ),
)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    corpus=st.lists(
        st.tuples(
            doc_s,
            st.sampled_from(META_LANGS),
            st.sampled_from(META_SRCS),
        ),
        min_size=1,
        max_size=15,
    ),
    query=query_s,
    flt=flt_s,
)
def test_filtered_search_matches_oracle(spark, corpus, query, flt):
    """Random metadata filters (union within a field x intersect across
    fields, O11): the engine's filtered candidate sets and scores must
    equal the oracle's for every generated (corpus, filter)."""
    oracle = OracleBM25(
        [(t, {"lang": lang, "src": src}) for t, lang, src in corpus],
        index_fields=["lang", "src"],
    )
    df = spark.createDataFrame(
        [(i, t, lang, src) for i, (t, lang, src) in enumerate(corpus)],
        "doc_id long, text string, lang string, src string",
    )
    idx = build_index(
        df,
        text_col="text",
        id_col="doc_id",
        index_fields=("lang", "src"),
        shard_size=8,
    )
    n = len(corpus)
    res = search_batch(idx, [(0, query)], limit=max(n, 1), flt=flt)
    _assert_engine_matches_oracle(res.collect(), oracle, [(query, flt)], n)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    corpus=st.lists(
        st.tuples(doc_s, st.sampled_from(["p0", "p1", "p2"])),
        min_size=1,
        max_size=15,
    ),
    query=query_s,
    keys=st.lists(
        st.sampled_from(["p0", "p1", "p2", "missing"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_partitioned_search_matches_oracle(spark, corpus, query, keys):
    """Partitioned builds (O16-O18): per-partition stats mean a doc's
    score depends only on its partition's corpus. search_in must equal an
    oracle built per partition; search_many must reproduce the inner
    default-limit-10 merge quirk."""
    oracle = OraclePartitionedBM25(
        [(t, {"pk": k}) for t, k in corpus],
        partition_by=lambda text, meta: meta["pk"],
    )
    df = spark.createDataFrame(
        [(i, t, k) for i, (t, k) in enumerate(corpus)],
        "doc_id long, text string, pk string",
    )
    idx = build_index(
        df,
        text_col="text",
        id_col="doc_id",
        index_fields=(),
        partition_col="pk",
        shard_size=8,
    )
    n = len(corpus)
    for key in keys:
        want = dict(oracle.search_in(key, query, limit=max(n, 1)))
        got = {
            r["doc_id"]: r["score"]
            for r in search_in(idx, key, query, limit=max(n, 1)).collect()
        }
        assert set(got) == set(want), (key, query)
        for d, s in want.items():
            assert abs(got[d] - s) <= 1e-9, (key, d)
    want_many = oracle.search_many(keys, query, limit=max(n, 1))
    got_many = search_many(idx, keys, query, limit=max(n, 1)).collect()
    assert {r["doc_id"] for r in got_many} == {d for d, _ in want_many}, (
        keys,
        query,
    )
    got_scores = {r["doc_id"]: r["score"] for r in got_many}
    for d, s in want_many:
        assert abs(got_scores[d] - s) <= 1e-9, (keys, d)


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    corpus=corpus_s,
    query=query_s,
    use_stop=st.booleans(),
)
def test_index_roundtrip_preserves_results(spark, corpus, query, use_stop):
    """write_index -> read_index round-trip (packed postings + meta.json):
    the reloaded index must return byte-identical candidate sets, scores,
    and ranks for the same query — across stopword configs and multi-shard
    layouts."""
    import shutil
    import tempfile

    stop = STOP if use_stop else None
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    idx = build_index(
        df,
        text_col="text",
        id_col="doc_id",
        index_fields=(),
        stopwords=stop,
        shard_size=8,
    )
    n = len(corpus)
    before = sorted(
        (r["doc_id"], r["score"], r["rank"])
        for r in search_batch(idx, [(0, query)], limit=max(n, 1)).collect()
    )
    root = tempfile.mkdtemp(prefix="bm25_prop_rt_")
    try:
        write_index(idx, root)
        reloaded = read_index(spark, root)
        after = sorted(
            (r["doc_id"], r["score"], r["rank"])
            for r in search_batch(
                reloaded, [(0, query)], limit=max(n, 1)
            ).collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert after == before, (query, use_stop)
