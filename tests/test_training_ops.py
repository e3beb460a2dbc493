"""Training-data pipeline operators: text stats, dedup family, similarity,
multimodal plumbing — validated against direct Python computation."""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bm25_spark.operators import dedup, multimodal, similarity, textstats

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "THE QUICK  BROWN FOX jumps over the lazy dog!!"),  # normalizes to 0
    (3, "completely different text about spark and data pipelines"),
    (4, "completely different text about spark and data pipelines"),
    (5, "short"),
    (6, "the and of to in is"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_token_stats(spark, docs):
    rows = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert rows[0]["ws_tokens"] == 9
    assert rows[5]["ws_tokens"] == 1
    # bpe-ish: 'dog!!' -> dog, !, !
    assert rows[2]["bpe_tokens"] == 11


def test_quality_and_langid(docs):
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert q[0]["n_tokens"] == 9  # all tokens are len>=2
    assert 0 <= q[0]["stopword_ratio"] <= 1
    assert q[5]["quality"] < q[0]["quality"]
    langs = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert langs[0] == "en"
    # 'short' hits English's ' sh' trigram under the round-5 dense
    # profiles — a reasonable call for an English word; the und path
    # needs text with no profile pattern at all (digits normalize away)
    assert langs[5] == "en"
    und = textstats.lang_id(
        docs.sparkSession.createDataFrame(
            [(0, "12345 67890 ---")], "doc_id long, text string"
        )
    ).collect()
    assert und[0]["lang_pred"] == "und"


# three labeled sentences per language — deterministic accuracy fixture
# for the trigram-profile LID (every prediction asserted exactly)
LID_FIXTURE = [
    ("en", "the quick brown fox is jumping over the lazy dog of the town"),
    ("en", "this is an example of a sentence that should be detected"),
    ("en", "reading and writing data to the table is the main thing"),
    ("de", "der schnelle braune Fuchs springt über den faulen Hund und weiter"),
    ("de", "dies ist ein einfaches Beispiel für einen deutschen Satz"),
    ("de", "die Verarbeitung der Daten erfolgt über eine verteilte Umgebung"),
    ("es", "el rápido zorro marrón salta por encima del perro perezoso"),
    ("es", "esta es una oración de ejemplo para la detección del idioma"),
    ("es", "la información se procesa con una canalización de datos"),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux"),
    ("fr", "ceci est une phrase d'exemple pour la détection des langues"),
    ("fr", "les données sont traitées par une chaîne de traitement"),
    ("it", "la rapida volpe marrone salta sopra il cane pigro della città"),
    ("it", "questa è una frase di esempio per il rilevamento della lingua"),
    ("it", "per la gestione dei dati non serve una configurazione"),
    ("nl", "de snelle bruine vos springt over de luie hond van het dorp"),
    ("nl", "dit is een voorbeeldzin voor het herkennen van een taal"),
    ("nl", "de gegevens worden verwerkt in een gedistribueerde omgeving"),
    ("pl", "szybki brązowy lis przeskakuje nad leniwym psem w mieście"),
    ("pl", "to jest przykładowe zdanie do wykrywania języka polskiego"),
    ("pl", "przetwarzanie danych odbywa się w środowisku rozproszonym"),
    ("pt", "a rápida raposa marrom salta por cima do cão preguiçoso"),
    ("pt", "esta é uma frase de exemplo para a detecção do idioma"),
    ("pt", "a informação é processada com um pipeline de dados não pequeno"),
    ("ru", "быстрая коричневая лиса прыгает через ленивую собаку на улице"),
    ("ru", "это пример предложения для определения языка текста"),
    ("ru", "обработка данных происходит в распределённой среде"),
    ("sv", "den snabba bruna räven hoppar över den lata hunden i staden"),
    ("sv", "detta är en exempelmening för att känna igen ett språk"),
    ("sv", "informationen behandlas i en distribuerad miljö och är snabb"),
]


def test_lang_id_trigram_accuracy(spark):
    """Trigram-profile LID must classify every labeled fixture sentence
    correctly (deterministic — exact assertions, not a threshold)."""
    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(LID_FIXTURE)],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in textstats.lang_id(df).collect()
    }
    wrong = [
        (LID_FIXTURE[i][0], got[i], LID_FIXTURE[i][1])
        for i in range(len(LID_FIXTURE))
        if got[i] != LID_FIXTURE[i][0]
    ]
    assert not wrong, wrong


TURKISH_MIXED_CASE = [
    (0, "BİR GÜN İSTANBUL'DA İzmir"),
    (1, "İstanbul ve İzmir için bir gün"),
    (2, "KIŞ GELİYOR, İNSANLAR EVLERİNE DÖNÜYOR"),
    (3, "Bir İşçi için büyük bir gün"),
]


def test_lang_id_turkish_dotted_i_matches_duckdb(spark):
    """U+0130 folds to 'i' in both engines: Spark's JVM lower() alone
    would give 'i' + a combining dot that the letter class turns into a
    word break ('bi r', 'i zmir'), while DuckDB's lower() gives 'i'."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from bm25_spark.contract import oracle_sql

    df = spark.createDataFrame(TURKISH_MIXED_CASE, "doc_id long, text string")
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(TURKISH_MIXED_CASE, columns=["doc_id", "text"])
    )
    norm = F.expr(textstats.lang_norm_sql()).alias("s")
    spark_norm = {r["doc_id"]: r["s"] for r in df.select("doc_id", norm).collect()}
    duck_norm_sql = textstats.lang_norm_sql(flags=", 'g'")
    duck_norm = dict(
        con.sql(f"SELECT doc_id, {duck_norm_sql} FROM documents").fetchall()
    )
    assert spark_norm == duck_norm
    assert spark_norm[0] == " bir gün istanbul da izmir "
    spark_pred = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    duck_pred = dict(con.sql(oracle_sql()["ts_lang_id"]).fetchall())
    assert spark_pred == duck_pred
    assert set(spark_pred.values()) == {"tr"}


def test_repetition_stats(spark):
    """Gopher-style repetition filters: duplicate-line fraction (exact
    array math, no explode) and top-bigram token coverage (explode +
    doc-keyed partial aggs) — asserted against hand-computed values."""
    df = spark.createDataFrame(
        [
            (0, "aa bb\naa bb\ncc dd"),   # 1 dup line of 3; "aa bb" x2 of 5 bigrams
            (1, "xx yy xx yy xx yy"),      # no dup lines; "xx yy" covers all
            (2, ""),                        # empty: all zeros
            (3, "one"),                     # single token: no bigrams
            (4, "  \n\n  "),               # whitespace-only lines drop
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.repetition_stats(df).collect()
    }
    assert (rows[0]["n_lines"], rows[0]["dup_line_frac"]) == (3, 0.3333)
    assert rows[0]["top_bigram_frac"] == 0.6667  # 2*2 of 6 tokens
    assert (rows[1]["dup_line_frac"], rows[1]["top_bigram_frac"]) == (0.0, 1.0)
    assert (rows[2]["n_lines"], rows[2]["top_bigram_frac"]) == (0, 0.0)
    assert rows[3]["top_bigram_frac"] == 0.0
    assert rows[4]["n_lines"] == 0


def test_fingerprint_and_exact_dedup(docs):
    fp = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(docs).collect()}
    assert fp[0] == fp[2]  # case/punct-insensitive
    assert fp[0] != fp[1]
    res = {r["doc_id"]: r for r in dedup.exact_duplicates(docs).collect()}
    assert res[2]["group_id"] == 0 and res[2]["group_size"] == 2
    assert res[0]["keep"] and not res[2]["keep"]
    assert res[4]["group_id"] == 3


def test_lid_profiles_module_in_sync():
    """The committed generated module must match what tools/lid_tune.py
    would regenerate from the lexicons — catches hand-edits of
    lid_profiles.py and lexicon changes committed without regeneration."""
    from bm25_spark.functions import lid_profiles
    from tools import lid_tune

    rebuilt = lid_tune.build_profiles()
    assert tuple(sorted(rebuilt)) == lid_profiles.LANG_ORDER
    assert {L: list(v) for L, v in rebuilt.items()} == {
        L: list(v) for L, v in lid_profiles.LANG_PATTERNS.items()
    }
    assert lid_tune.NORM_CLASS == lid_profiles.LANG_NORM_CLASS
    assert lid_tune.MAX_CHARS == lid_profiles.LANG_MAX_CHARS
    # the shipped weight rule is the generator's canonical one
    for lang, pats in lid_profiles.LANG_PATTERNS.items():
        for p in pats:
            assert lid_profiles.pattern_weight(p) == lid_tune.pattern_weight(
                p
            ), (lang, p)


def test_lang_id_heldout_accuracy_floor(spark):
    """Regression floor for the held-out LID figure reported in BENCH.md:
    the test half of tools/lid_accuracy.py's fixture (never used for
    profile fitting — round-5 profiles derive from public lexicons only)
    must stay >= 0.9 accurate across the 15 languages. The exact
    per-sentence fixture above guards determinism; this guards quality."""
    from tools.lid_accuracy import measure

    result = measure(spark)
    assert result["n_test"] == 150
    assert result["value"] >= 0.9, result


def _py_shingles(text, n=3):
    toks = [t for t in __import__("re").findall(r"[a-z0-9_]+", text.lower()) if len(t) >= 2]
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


def test_jaccard_pairs(docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    s0, s1 = _py_shingles(CORPUS[0][1]), _py_shingles(CORPUS[1][1])
    want_j = round(len(s0 & s1) / len(s0 | s1), 4)
    assert got[(0, 1)] == want_j
    assert got[(0, 2)] == 1.0
    assert got[(3, 4)] == 1.0
    assert (0, 3) not in got


def test_jaccard_hot_shingle_cap_exact_verify(spark):
    """The hot-shingle cap bounds candidate GENERATION only: a pair found
    via a cold shingle must still count its hot shingles in the exact
    verify, and the uncapped path must populate stats too."""
    import datetime as dt

    from bm25_spark.sources.datagen import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2026, 1, 1)
    hot = "alpha beta gamma"  # one shared 3-shingle in EVERY doc
    rows = [
        ("c", i, "user", f"{hot} filler{i} tail{i} end{i}", None,
         t0 + dt.timedelta(seconds=i))
        for i in range(6)
    ]
    # docs 0 and 1 also share a COLD trigram ("shared cold thing")
    rows[0] = ("c", 0, "user", f"{hot} shared cold thing zero", None, t0)
    rows[1] = ("c", 1, "user", f"{hot} shared cold thing one", None, t0)
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).withColumn(
        "doc_id", F.col("turn_idx").cast("long")
    )

    # cap=3: every shingle of the hot run (df=6) is dropped from candidate
    # generation, but pair (0,1) is generated via its cold shingles
    got = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs(
        df, n=3, threshold=0.05, text_col="text", max_shingle_df=3
    ).collect()}
    s0 = _py_shingles(f"{hot} shared cold thing zero")
    s1 = _py_shingles(f"{hot} shared cold thing one")
    want = round(len(s0 & s1) / len(s0 | s1), 4)
    assert got[(0, 1)] == want  # hot shingles COUNTED in inter
    # pairs whose only overlap is hot shingles are not generated
    assert (2, 3) not in got

    # uncapped path fills stats as well
    ustats: dict = {}
    un = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs(
        df, n=3, threshold=0.05, text_col="text", max_shingle_df=None,
        stats=ustats,
    ).collect()}
    assert ustats["dropped_hot_shingles"] == 0
    assert ustats["kept_shingles"] > 0
    assert ustats["candidate_pairs"] >= 15  # hot shingle joins all pairs
    assert un[(0, 1)] == want
    assert (2, 3) in un  # hot-only overlap present without the cap


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.minhash_lsh_pairs(docs, num_perm=16, bands=8, threshold=0.3).collect()}
    # exact dups always collide in every band
    assert (0, 2) in got and got[(0, 2)] == 1.0
    assert (3, 4) in got
    # verified jaccard matches exact computation
    for (a, b), j in got.items():
        sa, sb = _py_shingles(CORPUS[a][1]), _py_shingles(CORPUS[b][1])
        assert j == round(len(sa & sb) / len(sa | sb), 4)


def test_minhash_signature_is_md5_min(spark, docs):
    sig = {r["doc_id"]: r["sig"] for r in
           dedup.minhash_signatures(docs, num_perm=4).collect()}
    sh = _py_shingles(CORPUS[0][1])
    for perm in range(4):
        want = min(hashlib.md5(f"{perm}|{s}".encode()).hexdigest() for s in sh)
        assert sig[0][perm] == want
    # plan shape: one Generate (the shingle explode), no per-perm row
    # explosion — the signature is one groupBy(doc_id) of num_perm MINs
    plan = (
        dedup.minhash_signatures(docs, num_perm=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Generate") == 1, plan


def test_simhash(docs):
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=16).collect()}
    assert s[0] == s[2]  # identical token multiset
    assert 0 <= s[0] < (1 << 16)
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_pairs(docs, bits=16, max_hamming=3,
                                 allow_narrow_bands=True).collect()}
    assert pairs[(0, 2)] == 0
    assert pairs[(3, 4)] == 0
    # narrow band keys (here 16//4 = 4 bits) are a corpus-scale footgun:
    # rejected loudly unless explicitly allowed for small-corpus tests
    with pytest.raises(ValueError, match="band key width"):
        dedup.simhash_pairs(docs, bits=16, max_hamming=3)


def test_dedup_candidate_volume_is_linear(spark):
    """At default scale parameters, candidate volume tracks the number of
    true duplicate pairs, not N^2/buckets. 5k unique docs + 50 planted
    dup pairs: simhash banding must produce O(dup) candidates, and
    jaccard's hot-shingle telemetry must report a bounded verify join."""
    import random

    rng = random.Random(7)
    words = [f"w{i:04d}" for i in range(2000)]
    rows = []
    for i in range(5000):
        rows.append((i, " ".join(rng.choice(words) for _ in range(30))))
    for j in range(50):  # 50 planted near-dups of the first 50 docs
        rows.append((5000 + j, rows[j][1] + " extraword"))
    big = spark.createDataFrame(rows, "doc_id long, text string")

    # plan shape: the signature is ONE groupBy(doc_id) over the token
    # explode — no per-bit row explosion (the shuffle moves ~docs rows of
    # 60 partial sums, not docs*tokens*60 vote rows). Exactly one Generate
    # (the token explode) and one exchange feed the aggregate.
    plan = dedup.simhash(big)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1, plan

    stats: dict = {}
    dedup.simhash_pairs(big, stats=stats)  # defaults: bits=60, 20-bit keys
    n = len(rows)
    # all-pairs would be ~12.7M; per band at 32 buckets (the old 16-bit
    # default) ~400k. With 20-bit keys candidates must be O(dups): allow
    # generous slack for random collisions but stay orders below both.
    assert stats["candidate_pairs"] < 10 * n
    assert all(e["buckets"] > 1000 for e in stats["per_band"])

    jstats: dict = {}
    dedup.jaccard_pairs(big, stats=jstats)
    # random 30-word docs over 2000 words share almost no 3-gram shingles;
    # the verify join must be O(dup pairs), and the counters must exist
    assert jstats["candidate_pairs"] < 10 * n
    assert jstats["kept_shingles"] > 0
    assert jstats["dropped_hot_shingles"] == 0


def _vecs(seed=3, n=30, dim=8):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim))
    base[1] = base[0] + 0.01 * rng.normal(size=dim)  # near-dup of 0
    return [(i, [float(x) for x in base[i]]) for i in range(n)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in _vecs()], "vec_id long, embedding array<float>"
    )


def _naive_pairs(threshold):
    vecs = dict(_vecs())
    out = {}
    for i in vecs:
        for j in vecs:
            if i < j:
                a, b = np.array(vecs[i]), np.array(vecs[j])
                c = round(
                    float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))),
                    4,
                )
                if c >= threshold:
                    out[(i, j)] = c
    return out


def test_embedding_neardup(emb):
    pairs = {(r["a"], r["b"]) for r in
             dedup.embedding_neardup_pairs(emb, threshold=0.99).collect()}
    assert (0, 1) in pairs


def test_embedding_neardup_block_equals_all_pairs(emb):
    """The block-GEMM plan is exact: same pair set + cosines as the naive
    all-pairs computation, at both a loose and a tight threshold, and for
    block counts that do / don't divide the corpus evenly."""
    for threshold in (0.2, 0.9):
        want = _naive_pairs(threshold)
        for n_blocks in (1, 3, 7):
            got = {
                (r["a"], r["b"]): r["cosine"]
                for r in dedup.embedding_neardup_pairs(
                    emb, threshold=threshold, n_blocks=n_blocks
                ).collect()
            }
            assert got == want, (threshold, n_blocks)


def test_embedding_neardup_lsh_high_threshold(emb):
    """The banded-LSH path finds the planted near-dup pair (cosine ~0.9999)
    and returns a subset of the exact pairs with identical cosines."""
    want = _naive_pairs(0.99)
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs(
            emb, threshold=0.99, method="lsh", n_planes=16, bands=4
        ).collect()
    }
    assert (0, 1) in got
    assert set(got) <= set(want)
    assert all(want[k] == v for k, v in got.items())


def test_brute_topk_matches_numpy(emb):
    vecs = dict(_vecs())
    q = vecs[5]
    got = similarity.brute_topk(emb, [(0, q)], k=5).orderBy("rank").collect()
    qv = np.array(q)
    cos = {
        i: round(float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv))), 4)
        for i, v in ((i, np.array(v)) for i, v in vecs.items())
    }
    want = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["id"], r["cosine"]) for r in got] == want


def test_ivf_topk_recall_and_exactness(emb):
    vecs = dict(_vecs())
    qs = [(i, vecs[i]) for i in (0, 5, 9)]
    brute = similarity.brute_topk(emb, qs, k=5).collect()
    bset = {(r["query_id"], r["id"]) for r in brute}
    # nprobe < nlist: approximate but deterministic
    approx = similarity.ivf_topk(emb, qs, k=5, nlist=4, nprobe=2).collect()
    aset = {(r["query_id"], r["id"]) for r in approx}
    assert len(aset & bset) / len(bset) >= 0.6
    # every query finds itself (its own cell is always probed)
    assert {(q, q) for q, _ in qs} <= aset
    # nprobe == nlist degenerates to exact brute-force
    exact = similarity.ivf_topk(emb, qs, k=5, nlist=4, nprobe=4).collect()
    assert {(r["query_id"], r["id"], r["cosine"]) for r in exact} == {
        (r["query_id"], r["id"], r["cosine"]) for r in brute
    }


def test_ivf_lloyd_refinement_improves_recall(spark):
    """Clustered fixture: 4 tight, well-separated direction clusters.
    Random-sample seeds can land two seeds in one cluster (splitting it
    and orphaning another); Lloyd passes pull centroids to the cluster
    means, so recall at fixed nprobe=1 must be >= the seeded recall —
    and refined centroids must differ from the seeds (the passes ran)."""
    rng = np.random.default_rng(11)
    axes = np.eye(8)[:4]  # 4 orthogonal cluster directions
    rows = []
    for i in range(200):
        v = axes[i % 4] + 0.05 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vecs = dict(rows)
    qs = [(i, vecs[i]) for i in (0, 1, 2, 3, 17, 42)]
    brute = similarity.brute_topk(emb2, qs, k=10).collect()
    bset = {(r["query_id"], r["id"]) for r in brute}

    def recall(refine_iters):
        got = similarity.ivf_topk(
            emb2, qs, k=10, nlist=4, nprobe=1, refine_iters=refine_iters
        ).collect()
        gset = {(r["query_id"], r["id"]) for r in got}
        return len(gset & bset) / len(bset)

    seeded, refined = recall(0), recall(3)
    assert refined >= seeded
    assert refined >= 0.9  # tight clusters: 3 Lloyd passes ~solve this
    seeds = similarity.ivf_seed_centroids(emb2, nlist=4)
    ref = similarity.ivf_refine_centroids(emb2, seeds, iters=3)
    assert ref != seeds
    assert len(ref) == 4 and all(len(c) == 8 for _, c in ref)


def test_ivf_cells_partition_the_corpus(emb):
    cells = similarity.ivf_cells(emb, nlist=4).collect()
    assert len(cells) == len(_vecs())  # every vector lands in exactly 1 cell
    assert {r["cell"] for r in cells} <= set(range(4))
    # seed selection is md5(id)-ordered, and each seed vector lands in its
    # own cell (self-cosine 1.0 is maximal; all fixture vectors distinct)
    import hashlib

    ids = [i for i, _ in _vecs()]
    expected_seeds = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:4]
    by_id = {r["id"]: r["cell"] for r in cells}
    for cell, sid in enumerate(expected_seeds):
        assert by_id[sid] == cell


def test_ivf_assignment_pandas_matches_literal(spark):
    """The broadcast-matrix mapInPandas cell assignment (the production
    path past LITERAL_PLAN_MAX_TERMS) must agree with the literal-inlined
    expression path on every vector: same argmax-cosine, same
    ties->smallest-cell break."""
    rng = np.random.default_rng(21)
    dim, n = 64, 400
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_seed_centroids(e, nlist=32)
    lit = {r["id"]: r["cell"] for r in
           similarity.ivf_cells(e, centroids=cents, impl="literal").collect()}
    pan = {r["id"]: r["cell"] for r in
           similarity.ivf_cells(e, centroids=cents, impl="pandas").collect()}
    assert lit == pan
    # duplicated centroid -> exact cosine tie: both paths pick the
    # smaller cell id
    tie_cents = [(0, cents[0][1]), (1, cents[0][1]), (2, cents[1][1])]
    lit_t = {r["id"]: r["cell"] for r in
             similarity.ivf_cells(e, centroids=tie_cents, impl="literal").collect()}
    pan_t = {r["id"]: r["cell"] for r in
             similarity.ivf_cells(e, centroids=tie_cents, impl="pandas").collect()}
    assert lit_t == pan_t
    assert 1 not in set(lit_t.values())  # tie always resolves to cell 0


def test_ivf_large_nlist_dim_bounded_plan(spark):
    """nlist=512 x dim=256 (131k literal terms — far past the literal-plan
    budget): auto must route to the pandas path, the ANALYZED plan must
    stay bounded (no O(nlist*dim) expression tree), and the assignment
    must agree with the literal path on a sample of the centroids."""
    rng = np.random.default_rng(5)
    dim, nlist = 256, 512
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(600)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(c, [float(x) for x in rng.normal(size=dim)])
             for c in range(nlist)]
    cells = similarity.ivf_cells(e, centroids=cents)  # impl='auto'
    plan = cells._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000, len(plan)  # literal plans here are ~10^7
    got = {r["id"]: r["cell"] for r in cells.collect()}
    assert len(got) == 600
    # cross-check a sample against the literal expression on a small
    # centroid subset: vectors the pandas path assigned to those cells
    # must get the identical cell from the literal argmax restricted to
    # that subset... (restriction changes the argmax domain, so instead
    # verify directly against a numpy recomputation of the full argmax)
    C = np.array([cv for _, cv in cents])
    Cn = np.linalg.norm(C, axis=1)
    for vid, vec in rows[:50]:
        v = np.array(vec)
        sims = (C @ v) / (np.linalg.norm(v) * Cn)
        assert got[vid] == int(np.argmax(sims)), vid


def test_lsh_buckets_pandas_matches_literal_dim768(spark):
    """Real-embedding-dim LSH: n_planes=8 x dim=768 exceeds the literal
    budget, so auto routes to the broadcast-plane pandas projection; its
    buckets must be identical to the literal-inlined path's."""
    rng = np.random.default_rng(9)
    dim = 768
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(200)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lit = {r["id"]: r["bucket"] for r in
           similarity.lsh_buckets(e, 8, dim, impl="literal").collect()}
    auto = similarity.lsh_buckets(e, 8, dim)  # auto -> pandas at 6144 terms
    plan = auto._jdf.queryExecution().analyzed().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan[:500]
    pan = {r["id"]: r["bucket"] for r in auto.collect()}
    assert lit == pan
    assert len(set(pan.values())) > 1  # buckets actually spread


def test_topk_pandas_impl_end_to_end_identical(emb):
    """Forcing impl='pandas' (broadcast-matrix assignment + numpy probe
    selection) through ivf_topk and lsh_topk must reproduce the literal
    path's results exactly on the shared fixture."""
    vecs = dict(_vecs())
    qs = [(i, vecs[i]) for i in (0, 5, 9)]
    for fn, kw in (
        (similarity.ivf_topk, dict(nlist=4, nprobe=2)),
        (similarity.lsh_topk, dict(n_planes=6, multiprobe_hamming=1)),
    ):
        lit = fn(emb, qs, k=5, impl="literal", **kw).collect()
        pan = fn(emb, qs, k=5, impl="pandas", **kw).collect()
        key = lambda rows: sorted(
            (r["query_id"], r["rank"], r["id"], r["cosine"]) for r in rows
        )
        assert key(lit) == key(pan), fn.__name__


def test_ann_index_roundtrip_identical_and_pruned(spark, emb, tmp_path):
    """Persisted IVF index: write (cell-partitioned parquet + centroid
    manifest), query back — results bit-identical to ivf_topk with the
    same centroids, and the scan is STATICALLY pruned to the probed cell
    partitions (the storage win the persisted index exists for)."""
    from bm25_spark.operators import ann_index

    path = str(tmp_path / "annidx")
    meta = ann_index.write_ann_index(emb, path, nlist=4)
    assert meta["nlist"] == 4 and meta["dim"] == 8

    vecs = dict(_vecs())
    qs = [(i, vecs[i]) for i in (0, 5, 9)]
    got_df = ann_index.ann_index_topk(spark, path, qs, k=5, nprobe=2)
    got = {(r["query_id"], r["rank"], r["id"], r["cosine"])
           for r in got_df.collect()}
    want = {(r["query_id"], r["rank"], r["id"], r["cosine"])
            for r in similarity.ivf_topk(emb, qs, k=5, nlist=4, nprobe=2)
            .collect()}
    assert got == want

    # partition pruning reaches the parquet scan: PartitionFilters on
    # cell, and fewer partition dirs read than exist when nprobe < nlist
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan[:2000]
    cells, centroids, _ = ann_index.read_ann_index(spark, path)
    probe = ann_index._make_probe_fn(centroids, 2)
    # a single query probes exactly nprobe of nlist cells — a one-query
    # request reads half the partitions here (and nprobe/nlist at scale)
    assert len(probe([float(x) for x in vecs[0]])) == 2
    one = ann_index.ann_index_topk(spark, path, [qs[0]], k=5, nprobe=2)
    one_plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in one_plan

    # manifest guards
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        ann_index.read_ann_index(spark, str(tmp_path / "nope"))


def test_ivf_cell_stats_histogram(emb):
    stats: dict = {}
    similarity.ivf_cells(emb, nlist=4, stats=stats).collect()
    assert sum(stats["cell_sizes"].values()) == len(_vecs())
    assert stats["nonempty_cells"] == len(stats["cell_sizes"])
    assert stats["max_cell"] >= stats["min_cell"] >= 1
    assert set(stats["cell_sizes"]) <= set(range(4))


def test_lsh_topk_recall(emb):
    vecs = dict(_vecs())
    qs = [(i, vecs[i]) for i in (0, 5, 9)]
    brute = similarity.brute_topk(emb, qs, k=5).collect()
    approx = similarity.lsh_topk(emb, qs, k=5, n_planes=6, multiprobe_hamming=2).collect()
    bset = {(r["query_id"], r["id"]) for r in brute}
    aset = {(r["query_id"], r["id"]) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.6, recall  # approximate, deterministic planes


@pytest.mark.parametrize(
    "backend",
    [
        "stub",
        pytest.param(
            "pil",
            marks=pytest.mark.skipif(
                not multimodal._pil_available(), reason="Pillow not installed"
            ),
        ),
    ],
)
def test_decode_backend_dispatch(spark, backend):
    """decode_images with an explicit backend: the stub path always runs;
    the pil path (real decode) runs where Pillow exists — same plumbing,
    same schema, decoder swapped via get_decoder."""
    if backend == "pil":
        # a real 6x5 RGB PNG, encoded by Pillow itself
        import io

        from PIL import Image

        arr = np.arange(6 * 5 * 3, dtype=np.uint8).reshape(5, 6, 3)
        buf = io.BytesIO()
        Image.fromarray(arr).save(buf, format="PNG")
        payload = buf.getvalue()
        want_w, want_h, want_mean = 6, 5, round(float(arr.mean()), 4)
    else:
        payload = b"not really an image"
        d = multimodal._decode_stub(payload)
        want_w, want_h = d.shape[1], d.shape[0]
        want_mean = round(float(d.mean()), 4)
    blobs = spark.createDataFrame(
        [(0, "image", bytearray(payload), "image/png")],
        multimodal.BLOB_SCHEMA,
    )
    row = multimodal.decode_images(blobs, backend=backend).first()
    assert (row["width"], row["height"]) == (want_w, want_h)
    assert row["channels"] == 3
    assert row["mean_pixel"] == want_mean
    assert row["byte_len"] == len(payload)


def test_decoder_dispatch_errors():
    with pytest.raises(ValueError):
        multimodal.get_decoder("nope")
    if not multimodal._pil_available():
        with pytest.raises(ImportError):
            multimodal.get_decoder("pil")
        # auto falls back to the stub when Pillow is absent
        assert multimodal.get_decoder("auto") is multimodal._decode_stub


def test_auto_pil_falls_back_to_stub_per_row(monkeypatch):
    """On a Pillow-equipped host, backend='auto' must not fail the job on
    blobs Pillow cannot decode (attach_blobs' fakes; corrupt files in a
    real crawl): undecodable rows fall back to the stub per row, while an
    explicit 'pil' stays strict. Exercised on _row_decoder directly (the
    per-row callable the mapInPandas stages build); a worker-side
    monkeypatch cannot cross the Python-worker process boundary, and the
    Spark plumbing itself is covered by the stub-backend tests."""

    def fake_pil_decode(blob: bytes):
        raise ValueError("cannot identify image file")

    monkeypatch.setattr(multimodal, "_pil_available", lambda: True)
    monkeypatch.setattr(multimodal, "_decode_pil", fake_pil_decode)

    payload = b"definitely not an image"
    dec, state = multimodal._row_decoder("auto")()  # auto -> pil, lenient
    got, ok = dec(payload)
    assert ok is False  # fallback rows are MARKED (decode_ok=False)
    assert np.array_equal(got, multimodal._decode_stub(payload))
    dec(payload)
    assert state["fallbacks"] == 2  # final per-task count is surfaced

    # explicit 'pil' stays STRICT: the user asked for real decode, so the
    # undecodable blob raises instead of silently degrading
    strict, _ = multimodal._row_decoder("pil")()
    with pytest.raises(ValueError):
        strict(payload)

    # and 'auto' on a Pillow-less host resolves to the stub outright —
    # the stub IS the configured decoder, so its rows are decode_ok=True
    monkeypatch.setattr(multimodal, "_pil_available", lambda: False)
    stub_dec, stub_state = multimodal._row_decoder("auto")()
    arr, ok = stub_dec(payload)
    assert ok is True and stub_state["fallbacks"] == 0
    assert np.array_equal(arr, multimodal._decode_stub(payload))


def test_verify_decode_backend_probe(spark, monkeypatch):
    """Startup probe: resolves the backend on the driver and, for 'pil',
    checks Pillow importability inside executor tasks. In this sandbox
    Pillow is absent, so 'auto' resolves to 'stub' without running a job
    and explicit 'pil' raises at resolution."""
    assert multimodal.verify_decode_backend(spark, "auto") == "stub"
    assert multimodal.verify_decode_backend(spark, "stub") == "stub"
    if not multimodal._pil_available():
        with pytest.raises(ImportError):
            multimodal.verify_decode_backend(spark, "pil")
    else:
        # local mode: executors share the driver env, probe must pass
        assert multimodal.verify_decode_backend(spark, "pil") == "pil"


def test_multimodal_plumbing(docs):
    blobs = multimodal.attach_blobs(docs)
    # stub pinned: attach_blobs makes fake (utf-8) blobs, and this test
    # asserts the stub's byte-exact semantics regardless of Pillow presence
    meta = {r["doc_id"]: r
            for r in multimodal.decode_images(blobs, backend="stub").collect()}
    assert meta[0]["byte_len"] == len(CORPUS[0][1].encode())
    assert meta[0]["channels"] == 3
    assert all(r["decode_ok"] for r in meta.values())  # stub = configured
    assert 4 <= meta[0]["width"] <= 16
    # determinism: same text -> same decoded meta
    assert meta[3]["mean_pixel"] == meta[4]["mean_pixel"]
    resized = multimodal.resize_images(blobs, target=4, backend="stub").collect()
    assert all(len(r["blob"]) == 4 * 4 * 3 for r in resized)
    # byte-exact resize semantics: stub decode + numpy-linspace
    # nearest-neighbor subsample (what the mm_resize oracle re-derives)
    arr = multimodal._decode_stub(CORPUS[0][1].encode())
    ys = np.linspace(0, arr.shape[0] - 1, 4).astype(int)
    xs = np.linspace(0, arr.shape[1] - 1, 4).astype(int)
    got = {r["doc_id"]: bytes(r["blob"]) for r in resized}
    assert got[0] == arr[np.ix_(ys, xs)].tobytes()
    frames = multimodal.sample_frames(blobs, n_frames=3)
    assert frames.count() == len(CORPUS) * 3
    assert frames.schema == multimodal.FRAME_SCHEMA
    # byte-exact chunking: frame i = raw[i*step:(i+1)*step], step=len//3
    raw = CORPUS[0][1].encode()
    step = max(1, len(raw) // 3)
    fr = {
        (r["doc_id"], r["frame_idx"]): bytes(r["frame"])
        for r in frames.collect()
    }
    assert fr[(0, 1)] == raw[step : 2 * step]
    assert fr[(0, 2)] == raw[2 * step : 3 * step]
