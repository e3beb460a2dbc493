"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All of these are pure JVM expressions (no Python in the hot path) and each
has an exact DuckDB-SQL mirror in contract.py: shared determinism comes from
md5 (identical across Spark/DuckDB/Python) and fixed regex token rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BPE-ish pre-tokenization: letter runs | single digits | single punct
BPE_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"
# analyzer-equivalent token split for plain ascii corpora
WORD_SPLIT = r"[^a-z0-9_]+"

STOPWORDS_EN = (
    "the a an and or but of to in is are was were be been it this that "
    "for on with as at by from"
).split()

# Language-ID patterns (round 5): variable-length padded function words,
# suffixes, and share-filtered trigrams per language, GENERATED from
# public lexicons by tools/lid_tune.py (method + lexicons live there; the
# labeled fixture in tools/lid_accuracy.py is validation-only). Scoring
# stays a pure string expression: score(L) = total occurrences of L's
# patterns in the normalized text, each counted via length-difference /
# pattern-length — deterministic and DuckDB-mirrorable. Ties at argmax go
# to the earlier language in LANG_ORDER in both engines.
from bm25_spark.functions.lid_profiles import (  # noqa: E402
    LANG_MAX_CHARS,
    LANG_NORM_CLASS,
    LANG_ORDER,
    LANG_PATTERNS,
    pattern_weight,
)


def _balanced(terms: list[str]) -> str:
    """Log-depth parenthesized sum. Both consumers need it: Spark's
    parser/analyzer and DuckDB's binder (hard limit 128) recurse per
    nested binary op, and a language's score has ~400 terms."""
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return f"({_balanced(terms[:mid])} + {_balanced(terms[mid:])})"


def lang_norm_sql(max_chars: int = LANG_MAX_CHARS, flags: str = "") -> str:
    """LID's normalized ``text`` in SQL both engines parse (DuckDB with
    ``flags=", 'g'"``). U+0130 folds to 'i' BEFORE lower(): the JVM gives
    'i' + a combining dot, which the letter class turns into a word break
    ('İzmir' -> ' i zmir '), while DuckDB gives 'i'."""
    return (
        f"concat(' ', regexp_replace(lower(replace(substr(text, 1, "
        f"{max_chars}), '\u0130', 'i')), '{LANG_NORM_CLASS}', ' '{flags}), ' ')"
    )


def lid_score_sql(lang: str, intdiv: str = "div", squote: str = "\\'") -> str:
    """The ONE generator for a language's LID score expression, shared by
    the Spark operator (``F.expr``, Spark SQL ``div``, backslash quote
    escape) and the DuckDB oracle in contract.py (``//``, doubled-quote
    escape) — the two engines must stay arithmetically identical, so the
    grouping/weighting logic lives exactly once.

    Patterns group by (length, weight): whole words and >3-char morphemes
    count double (pattern_weight) — they are the high-precision features;
    trigrams are the dense fallback. Each group's length-differences sum
    exactly divides by the pattern length (every diff is a multiple of
    it), so integer division per group is exact.

    Generated-SQL route rationale (Spark side): composing the same tree
    from ~900 Python Column objects costs ~3 s/language in Py4J
    round-trips (measured 43 s total for 15 languages); one parsed string
    builds an identical analyzed expression in well under a second."""
    groups: dict[tuple[int, int], list[str]] = {}
    for pat in LANG_PATTERNS[lang]:
        groups.setdefault((len(pat), pattern_weight(pat)), []).append(pat)
    parts = []
    for (plen, w) in sorted(groups):
        diffs = _balanced([
            "(length(s) - length(replace(s, '{0}', '')))".format(
                pat.replace("'", squote)
            )
            for pat in groups[(plen, w)]
        ])
        parts.append(f"({w} * (({diffs}) {intdiv} {plen}))")
    return _balanced(parts)


def _tokens_col(text_col: str) -> F.Column:
    """array of analyzer tokens (len>=2) for plain-ascii text — the JVM-side
    equivalent of the tokenizer UDF's ASCII path (valid when text has no
    non-ascii chars; the general path is the pandas UDF in analyzer.py)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), WORD_SPLIT),
        lambda t: F.length(t) >= 2,
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace token count + BPE-ish
    pre-token count — the unit for training-data size accounting."""
    trimmed = F.trim(F.col(text_col))
    ws = F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), F.lit(0))
    )
    return docs.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, mean_token_len, quality):
    deterministic linear quality heuristic — length band + stopword balance
    (the classic Gopher-style filters, reduced to SQL-expressible form)."""
    toks = _tokens_col(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    mean_len = F.when(n > 0, F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    len_ok = (n >= 5) & (n <= 500)
    quality = (
        F.when(len_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.0) & (stop_ratio <= 0.4), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 3.0) & (mean_len <= 10.0), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(mean_len, 4).alias("mean_token_len"),
        F.round(quality, 4).alias("quality"),
    )


def lang_id(
    docs: DataFrame,
    text_col: str = "text",
    max_chars: int = LANG_MAX_CHARS,
) -> DataFrame:
    """(doc_id, lang_pred): pattern-profile language ID over the
    LANG_PATTERNS languages (15); 'und' when no profile pattern occurs.

    100 TB shape: a single NARROW projection — normalize once, then each
    language's score is a chain of length-difference counts (JVM string
    ops inside whole-stage codegen). No explode, no join, no shuffle; the
    text is capped at ``max_chars`` so cost is bounded per row. Patterns
    are variable-length (padded whole words, suffixes, trigrams); counts
    group by pattern length so each division is exact (every length-diff
    is a multiple of its pattern length). Tie-break: earliest language in
    LANG_ORDER (same CASE order as the DuckDB oracle)."""
    d = docs.select("doc_id", F.col(text_col).alias("text")).select(
        "doc_id", F.expr(lang_norm_sql(max_chars)).alias("s")
    )

    score_cols = [
        F.expr(lid_score_sql(lang)).alias(f"s_{lang}")
        for lang in LANG_ORDER
    ]
    scored = d.select("doc_id", *score_cols)
    maxs = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_ORDER])
    pred = F.when(maxs <= 0, F.lit("und"))
    for lang in LANG_ORDER:
        pred = pred.when(F.col(f"s_{lang}") == maxs, F.lit(lang))
    return scored.select("doc_id", pred.alias("lang_pred"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): md5 of the normalized token stream — exact-dup key that
    is whitespace/case/punct-insensitive."""
    norm = F.concat_ws(" ", _tokens_col(text_col))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, top_bigram_frac): the classic
    repetition quality filters for training-data curation —

    * ``dup_line_frac``: fraction of non-empty trimmed lines that are
      duplicates of another line in the same document,
    * ``top_bigram_frac``: fraction of analyzer tokens covered by the
      single most frequent word bigram (2 * max bigram count / n_tokens).

    100 TB shape: the line metric is pure JVM array work on the narrow
    scan (``array_distinct`` — no explode, no shuffle). The bigram metric
    explodes to (doc_id, bigram) rows and aggregates twice, BOTH keyed by
    doc_id, so the two shuffles are partially aggregated map-side and
    carry one row per distinct (doc, bigram) — the same linear shape as
    the TF build (O4), never O(n^2)-per-doc expression work."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines)))
        / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    toks = _tokens_col(text_col)

    base = docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round(dup_line_frac, 4).alias("dup_line_frac"),
        toks.alias("toks"),
        F.size(toks).alias("n_toks"),
    )
    bigrams = base.select(
        "doc_id",
        "n_toks",
        F.explode(
            F.when(
                F.col("n_toks") >= 2,
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array())
        ).alias("bigram"),
    )
    top = (
        bigrams.groupBy("doc_id", "n_toks", "bigram")
        .count()
        .groupBy("doc_id", "n_toks")
        .agg(F.max("count").alias("top_count"))
        .select(
            "doc_id",
            F.round(
                F.col("top_count") * 2 / F.col("n_toks").cast("double"), 4
            ).alias("top_bigram_frac"),
        )
    )
    return (
        base.select("doc_id", "n_lines", "dup_line_frac")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
        )
    )
