"""Seeded inputs for the benchmark: transcript corpus, micro-batches and
query / filter / feedback / batch streams.

Everything here is a pure function of the seed, so the same seed gives the
same inputs. The engine only ever sees what these functions return.

Corpus properties the workloads depend on:

- words follow a Zipf law (s = 1.05) over ``VOCAB_SIZE`` ASCII terms, so the
  number of ``(term, shard)`` rows grows with the corpus the way a real
  vocabulary does (a 31-word corpus hides the per-row merge cost);
- turn lengths are lognormal with a tail cut at ``MAX_TOKENS`` tokens;
- ``UNICODE_SHARE`` of turns carry non-ASCII words (the tokenizer's Unicode
  path) and ``EMPTY_SHARE`` are empty.

Vocabulary words are made only of lowercase letters, at least two of them,
so every word is exactly one token under both tokenizer paths. That lets
the generator count tokens and Σdf itself, independently of the engine.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.05
MAX_TOKENS = 1_000
UNICODE_SHARE = 0.03
EMPTY_SHARE = 0.01
HEAD_RANKS = 100  # a query term of Zipf rank < HEAD_RANKS counts as "head"

_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]  # 90
# lowercase letters outside ASCII whose lower() is themselves
_UNI_SYLLABLES = [
    c + v
    for c in ["ж", "д", "л", "м", "ß", "ł", "ñ", "θ", "λ", "п"]
    for v in ["é", "ü", "ø", "а", "о", "å", "ı", "ε"]
]
UNICODE_VOCAB_SIZE = 2_000

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = [0.44, 0.44, 0.04, 0.08]
TOOLS = np.array(["search", "code", "browser", "shell", "sql"])

# A few filters that a search head sees over and over (tenant / source
# scoping); each query that filters draws one of them.
FILTERS = [
    {"role": "user"},
    {"role": ["system", "tool"]},
    {"tool": "search"},
    {"role": "assistant", "tool": ["code", "shell"]},
]


def _bijective_words(n: int, syllables: list[str]) -> list[str]:
    """n distinct words: i -> i in bijective base len(syllables)."""
    base = len(syllables)
    out = []
    for i in range(n):
        k = i + 1
        parts = []
        while k > 0:
            k, r = divmod(k - 1, base)
            parts.append(syllables[r])
        out.append("".join(reversed(parts)))
    return out


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Corpus:
    """Transcript rows in (conv_id, turn_idx) order, which is also doc-id
    order, plus the generator's own counts."""

    conv_id: list[str]
    turn_idx: np.ndarray
    role: list[str]
    tool: list[str | None]
    text: list[str]
    ts: list[dt.datetime]
    vocab: list[str]  # vocab[r] is the word of Zipf rank r
    n_tokens: int
    df_per_turn: np.ndarray  # distinct terms of each turn
    n_terms: int  # distinct terms that occur
    n_unicode: int
    n_empty: int

    def __len__(self) -> int:
        return len(self.text)

    def sum_df(self, hi: int | None = None) -> int:
        """Σ over terms of df, for the first ``hi`` turns."""
        return int(self.df_per_turn[:hi].sum())

    def text_bytes(self, hi: int | None = None) -> int:
        """UTF-8 bytes of the first ``hi`` turns' text."""
        return sum(len(t.encode("utf-8")) for t in self.text[:hi])

    def rows(self, lo: int = 0, hi: int | None = None) -> dict:
        hi = len(self) if hi is None else hi
        return {
            "conv_id": self.conv_id[lo:hi],
            "turn_idx": [int(x) for x in self.turn_idx[lo:hi]],
            "role": self.role[lo:hi],
            "text": self.text[lo:hi],
            "tool": self.tool[lo:hi],
            "ts": self.ts[lo:hi],
        }

    def oracle_docs(self, lo: int = 0, hi: int | None = None):
        hi = len(self) if hi is None else hi
        return [
            (self.text[i], {"role": self.role[i], "tool": self.tool[i]})
            for i in range(lo, hi)
        ]

    def filter_selectivity(self, flt: dict) -> float:
        cols = {"role": self.role, "tool": self.tool}
        keep = np.ones(len(self), dtype=bool)
        for f, v in flt.items():
            vals = set(v) if isinstance(v, list) else {v}
            keep &= np.fromiter((x in vals for x in cols[f]), bool, len(self))
        return float(keep.mean())


def make_corpus(seed: int, n_turns: int, mean_tokens: float = 30.0) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = _bijective_words(VOCAB_SIZE, _SYLLABLES)
    vocab = [vocab[i] for i in rng.permutation(VOCAB_SIZE)]
    uvocab = _bijective_words(UNICODE_VOCAB_SIZE, _UNI_SYLLABLES)
    uvocab = [uvocab[i] for i in rng.permutation(UNICODE_VOCAB_SIZE)]

    # lognormal turn lengths, tail cut at MAX_TOKENS; a few empty turns
    sigma = 1.0
    mu = np.log(mean_tokens) - sigma * sigma / 2
    lens = np.clip(rng.lognormal(mu, sigma, n_turns).astype(np.int64), 1, MAX_TOKENS)
    lens[rng.random(n_turns) < EMPTY_SHARE] = 0
    is_uni = (rng.random(n_turns) < UNICODE_SHARE) & (lens > 0)

    total = int(lens.sum())
    ranks = np.searchsorted(_zipf_cdf(VOCAB_SIZE, ZIPF_S), rng.random(total))
    ranks = np.minimum(ranks, VOCAB_SIZE - 1)
    # Unicode turns: about a fifth of their words (at least one) come from
    # the Unicode vocabulary; ids >= VOCAB_SIZE mark those words
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    uni_tok = np.zeros(total, dtype=bool)
    turn_of = np.repeat(np.arange(n_turns), lens)
    uni_tok[is_uni[turn_of]] = rng.random(int(lens[is_uni].sum())) < 0.2
    uni_tok[starts[is_uni]] = True
    uranks = np.searchsorted(
        _zipf_cdf(UNICODE_VOCAB_SIZE, ZIPF_S), rng.random(int(uni_tok.sum()))
    )
    ids = ranks.copy()
    ids[uni_tok] = VOCAB_SIZE + np.minimum(uranks, UNICODE_VOCAB_SIZE - 1)

    words = np.array(vocab + uvocab, dtype=object)[ids]
    text = []
    for t in range(n_turns):
        n = int(lens[t])
        if n == 0:
            text.append("")
            continue
        ws = words[starts[t] : starts[t] + n].tolist()
        if not is_uni[t]:
            ws[0] = ws[0].capitalize()  # the tokenizer lowercases
        text.append(" ".join(ws))

    # generator's own Σdf: distinct (turn, word) pairs
    pairs = np.unique(turn_of.astype(np.int64) * (VOCAB_SIZE * 2) + ids)
    df_per_turn = np.bincount(pairs // (VOCAB_SIZE * 2), minlength=n_turns)
    n_terms = int(np.unique(ids).size)

    # conversations of geometric length (mean 8 turns)
    conv_len = rng.geometric(1 / 8, n_turns)
    conv_id, turn_idx = [], np.empty(n_turns, dtype=np.int64)
    c = 0
    i = 0
    while i < n_turns:
        m = min(int(conv_len[c]), n_turns - i)
        conv_id.extend([f"c{c:07d}"] * m)
        turn_idx[i : i + m] = np.arange(m)
        i += m
        c += 1
    role = rng.choice(ROLES, n_turns, p=ROLE_P).tolist()
    tool_pick = rng.choice(TOOLS, n_turns).tolist()
    has_tool = rng.random(n_turns)
    tool = [
        tp if (r == "tool" or (r == "assistant" and h < 0.3)) else None
        for r, tp, h in zip(role, tool_pick, has_tool)
    ]
    t0 = dt.datetime(2026, 1, 1)
    ts = [t0 + dt.timedelta(seconds=int(k) * 7) for k in range(n_turns)]
    return Corpus(
        conv_id=conv_id,
        turn_idx=turn_idx,
        role=role,
        tool=tool,
        text=text,
        ts=ts,
        vocab=vocab,
        n_tokens=total,
        df_per_turn=df_per_turn,
        n_terms=n_terms,
        n_unicode=int(is_uni.sum()),
        n_empty=int((lens == 0).sum()),
    )


def micro_batches(corpus: Corpus, n_batches: int) -> list[tuple[int, int]]:
    """[lo, hi) row ranges that cut the corpus into ``n_batches`` appends at
    conversation boundaries, so each batch's (conv_id, turn_idx) order
    continues the previous one's and streamed doc ids match a full build."""
    n = len(corpus)
    cuts = [0]
    for k in range(1, n_batches):
        i = k * n // n_batches
        while 0 < i < n and corpus.conv_id[i] == corpus.conv_id[i - 1]:
            i += 1
        cuts.append(i)
    cuts.append(n)
    return [(a, b) for a, b in zip(cuts, cuts[1:]) if b > a]


@dataclass
class Query:
    kind: str  # plain | filtered | feedback | unknown
    text: str
    limit: int
    flt: dict | None = None
    n_head: int = 0  # query terms of Zipf rank < HEAD_RANKS
    n_unknown: int = 0


class QueryStream:
    """Seeded single-query stream for the search head. Terms are drawn by
    the corpus's Zipf law plus a uniform tail; queries have 1-4 terms,
    sometimes a repeated term and sometimes a term the corpus never uses.
    ``feedback`` queries are answered against an earlier result, which the
    caller supplies when it runs them.

    The kinds follow a fixed 20-query cycle (12 plain, 5 filtered, 2
    feedback, 1 unknown), so every run of a given length sees the same mix
    and only the query terms depend on the seed: the kinds differ in cost
    by up to 40x, and a drawn mix would move a run's figures with the seed."""

    CYCLE = "pfpppfpbpfpupfpppfpb"
    KINDS = {"p": "plain", "f": "filtered", "b": "feedback", "u": "unknown"}

    def __init__(self, corpus: Corpus, seed: int, stream: int = 2):
        self.n = 0
        self.vocab = corpus.vocab
        self.rng = np.random.default_rng([seed, stream])
        self.cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)

    def _term(self) -> tuple[str, bool, bool]:
        u = self.rng.random()
        if u < 0.05:  # never in the vocabulary: letters outside it + digits
            return f"qx{int(self.rng.integers(10**6))}", False, True
        if u < 0.20:
            r = int(self.rng.integers(VOCAB_SIZE))
        else:
            r = min(int(np.searchsorted(self.cdf, self.rng.random())), VOCAB_SIZE - 1)
        return self.vocab[r], r < HEAD_RANKS, False

    def terms(self, n: int) -> tuple[list[str], int, int]:
        ts, head, unk = [], 0, 0
        for _ in range(n):
            t, h, u = self._term()
            ts.append(t)
            head += h
            unk += u
        if n > 1 and self.rng.random() < 0.15:
            ts.append(ts[0])  # repeated term (qtf 2)
            head += ts[0] in self.vocab[:HEAD_RANKS]
        return ts, head, unk

    def next(self) -> Query:
        kind = self.KINDS[self.CYCLE[self.n % len(self.CYCLE)]]
        self.n += 1
        n = int(self.rng.choice([1, 2, 3, 4], p=[0.3, 0.35, 0.2, 0.15]))
        if kind == "unknown":  # every term misses the dictionary
            ts = [f"qx{int(self.rng.integers(10**6))}" for _ in range(min(n, 2))]
            return Query(kind, " ".join(ts), 10, None, 0, len(ts))
        ts, head, unk = self.terms(n)
        limit = 10 if self.rng.random() < 0.8 else 50
        flt = FILTERS[int(self.rng.integers(len(FILTERS)))] if kind == "filtered" else None
        return Query(kind, " ".join(ts), limit, flt, head, unk)


def batch_queries(
    corpus: Corpus, seed: int, batch_no: int, size: int, stream: int = 3
) -> list[tuple[int, str]]:
    """One ``search_batch`` batch: ``size`` queries of 3-4 Zipf-drawn terms,
    so that the batch's scoring work (Σ over queries of Σ df) exceeds the
    driver-path work bound and the batch is scored on the cluster."""
    rng = np.random.default_rng([seed, stream, batch_no])
    cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)
    out = []
    for q in range(size):
        n = int(rng.integers(3, 5))
        rs = np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)
        out.append((q, " ".join(corpus.vocab[int(r)] for r in rs)))
    return out
