"""Rocchio relevance feedback: engine vs oracle parity (O19)."""

import pytest

from bm25_spark.operators import feedback, searcher
from bm25_spark.operators.indexer import build_index
from bm25_spark.oracle import OracleBM25
from bm25_spark.sources.datagen import TRANSCRIPT_SCHEMA

CORPUS = [
    "cats are wonderful pets and cats purr softly",
    "kittens grow into cats quickly every year",
    "dogs are loyal companions for people",
    "birds sing in the morning light",
    "cats and kittens play with yarn",
    "the weather is cold in winter months",
]


@pytest.fixture(scope="module")
def engine(spark):
    import datetime as dt

    rows = [
        ("c0", i, "user", t, None, dt.datetime(2026, 1, 1, 0, i))
        for i, t in enumerate(CORPUS)
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    return build_index(df)


@pytest.fixture(scope="module")
def oracle():
    return OracleBM25(CORPUS)


def test_expansion_matches_oracle(engine, oracle):
    from bm25_spark.functions.analyzer import tokenize_text

    for rel in ([1], [0, 1], [1, 4], [2]):
        want = oracle.expand_query("cats", rel)
        rel_terms = [tokenize_text(CORPUS[i]) for i in sorted(rel)]
        got = feedback.rocchio_expand("cats", rel_terms)
        assert sorted(got.split()) == sorted(want.split()), rel


def test_feedback_results_match_oracle(engine, oracle):
    want = oracle.search_with_feedback("cats", [1], limit=6)
    got = feedback.search_with_feedback(engine, "cats", [1], limit=6)
    got_rows = [(r["doc_id"], r["score"]) for r in got.orderBy("rank").collect()]
    assert [d for d, _ in got_rows] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got_rows, want):
        assert abs(gs - ws) < 1e-9


def test_feedback_empty_ids_is_plain_search(engine):
    plain = searcher.search(engine, "cats", limit=6).collect()
    fb = feedback.search_with_feedback(engine, "cats", [], limit=6).collect()
    assert [(r["doc_id"], r["score"]) for r in plain] == [
        (r["doc_id"], r["score"]) for r in fb
    ]


def test_feedback_warm_head_zero_jobs_and_identical(engine):
    """On a fully-warmed packed head, a feedback query launches ZERO Spark
    jobs from the call through ``collect()`` (relevant-doc term counts
    reconstructed from the RAM-resident postings blocks, expanded query
    served by the driver scorer), and its rows, in rank order, are
    exactly the cold path's."""
    from bm25_spark.functions.analyzer import tokenize_text
    from bm25_spark.operators.packed import warm_query_caches

    rel = [1, 4]
    cold = [
        (r["doc_id"], round(r["score"], 10))
        for r in feedback.search_with_feedback(engine, "cats", rel, limit=6)
        .orderBy("rank")
        .collect()
    ]
    assert warm_query_caches(engine) is True
    # the warm reconstruction is available and matches re-tokenization
    warm_counts = feedback._relevant_term_counts_warm(engine, rel)
    assert warm_counts is not None
    for (tfm, dl), i in zip(warm_counts, sorted(rel)):
        toks = tokenize_text(CORPUS[i])
        assert dl == len(toks)
        want: dict = {}
        for t in toks:
            want[t] = want.get(t, 0) + 1
        assert tfm == want
    sc = engine.spark.sparkContext
    sc.setJobGroup("fb-warm-zero", "feedback zero-job assertion")
    try:
        res = feedback.search_with_feedback(engine, "cats", rel, limit=6)
        rows = res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fb-warm-zero")) == []
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    warm = [(r["doc_id"], round(r["score"], 10)) for r in rows]
    assert warm == cold


def test_feedback_warm_declines_ambiguous_ids(spark, engine):
    """Ids absent from the postings (nonexistent docs, or docs whose text
    tokenizes to nothing) are ambiguous for the warm path — it must
    decline and let the docs table decide, keeping Rocchio's ``found``
    divisor reference-exact in both cases."""
    import datetime as dt

    from bm25_spark.operators.indexer import build_index
    from bm25_spark.operators.packed import warm_query_caches

    # nonexistent id on the module engine: warm path declines
    assert feedback._relevant_term_counts_warm(engine, [1, 999]) is None

    # corpus with an empty-token doc (id 1): warm declines; the cold path
    # counts it toward `found`, matching the reference's retrieved-docs
    # semantics
    rows = [
        ("c0", 0, "user", "cats purr and cats play", None,
         dt.datetime(2026, 1, 1, 0, 0)),
        ("c0", 1, "user", "?? !! ..", None, dt.datetime(2026, 1, 1, 0, 1)),
        ("c0", 2, "user", "dogs bark at cats loudly", None,
         dt.datetime(2026, 1, 1, 0, 2)),
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    idx = build_index(df)
    assert warm_query_caches(idx) is True
    assert feedback._relevant_term_counts_warm(idx, [0, 1]) is None
    got = feedback.search_with_feedback(idx, "cats", [0, 1], limit=3)
    # parity with the expansion computed from the texts directly
    from bm25_spark.operators.searcher import search

    expanded = feedback.rocchio_expand(
        "cats",
        [["cats", "purr", "and", "cats", "play"], []],
    )
    want = search(idx, expanded, limit=3)
    assert [(r["doc_id"], round(r["score"], 10)) for r in got.collect()] == [
        (r["doc_id"], round(r["score"], 10)) for r in want.collect()
    ]
