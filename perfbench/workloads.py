"""The four workloads. Each takes a ``Run`` and returns its metrics.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned and its result has been collected.
Why each workload exists, and which layers it exercises, is in README.md.
"""

from __future__ import annotations

import gc
import os
import time
import traceback
from contextlib import contextmanager, nullcontext
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from env import dir_bytes, peak_rss_mb
from tracing import Tracer, jobs_in_group, read_stages, stage_totals

T = time.perf_counter

N_TURNS = 6_000  # corpus size of build / query_warm / query_batch
INGEST_TURNS = 6_000  # corpus size of ingest, cut into INGEST_BATCHES appends
INGEST_BATCHES = 12
BATCH_QUERIES = 400  # queries per search_batch call in query_batch
# query_batch scores its batches on the cluster. The engine routes a batch
# there once its scoring work (Σ over queries of Σ df) passes
# DRIVER_PATH_MAX_WORK, 1e8 by default, sized for corpora ~10^4 times this
# one; the benchmark scales the bound down with the corpus through the
# engine's own override, so a BATCH_QUERIES batch crosses it.
DRIVER_PATH_MAX_WORK = 1_000_000
SETUP_REPEATS = 3  # repeatable set-up steps run this often; median reported
CHECK_QUERIES = 30  # sampled answers compared with the oracle per run
QUERY_KINDS = ("plain", "filtered", "feedback", "unknown")
WARMUP_QUERIES = 60  # untimed queries before query_warm's timed loop
# ingest appends and query_batch batches take seconds each; a fixed minimum
# count keeps the median from depending on how many fit in the run
TIMED_MIN_OPS = 3


def shard_size(n_turns: int, cores: int) -> int:
    """Docs per shard such that the index has at least 3 x cores shards."""
    return max(1, n_turns // (3 * cores))


class Run:
    """State of one benchmark run: environment, seed, timers, trace."""

    def __init__(self, env, seed: int, seconds: float, trace: bool, t0: float):
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.t0 = t0
        self.tracer = Tracer() if trace else None
        if self.tracer:
            self.tracer.install()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.info: dict = {}
        self.excluded_s = 0.0  # set-up time that setup_s leaves out
        self.setup_parts: dict[str, float] = {}
        self.t_first_op = None
        self.trace_windows: list[tuple[float, float]] = []  # epoch ms

    # -- set-up ------------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def start(self):
        t = T()
        self.spark = self.env.start_spark()
        self.setup_parts["session_s"] = T() - t
        return self.spark

    def repeat(self, name: str, fn):
        """Run a set-up step SETUP_REPEATS times; setup_s counts its median."""
        times, out = [], None
        for _ in range(SETUP_REPEATS):
            t = T()
            out = fn()
            times.append(T() - t)
        self.excluded_s += sum(times) - median(times)
        self.setup_parts[name] = median(times)
        return out

    def exclude(self, name: str, fn):
        """Run a step that stands for input preparation, not set-up; setup_s
        leaves it out and the summary reports it as ``name``."""
        t = T()
        out = fn()
        dt = T() - t
        self.excluded_s += dt
        self.info[name] = round(dt, 3)
        return out

    @property
    def setup_s(self) -> float:
        return self.t_first_op - self.t0 - self.excluded_s

    # -- timed phase -------------------------------------------------------

    def loop(self, op, min_ops: int = 1, max_ops: int | None = None):
        """Run ``op(i, traced)`` back to back for the run's seconds. In the
        traced run every second operation is traced, so the tracing
        overhead is measured in the same process on interleaved inputs.
        Returns (untraced latencies, traced latencies) in seconds."""
        if self.t_first_op is None:
            self.t_first_op = T()
        kinds = 2 if self.tracer else 1
        lat: list[list[float]] = [[], []]
        t_end = T() + self.seconds
        i = 0
        while (min(len(x) for x in lat[:kinds]) < min_ops or T() < t_end) and (
            max_ops is None or i < max_ops
        ):
            traced = kinds == 2 and i % 2 == 1
            t = T()
            try:
                with self.tracing() if traced else nullcontext():
                    op(i, traced)
            except Exception:  # one failed operation must not end the run
                traceback.print_exc()
                self.failed += 1
            lat[traced].append(T() - t)
            i += 1
        self.attempted += i
        return lat[0], lat[1]

    @contextmanager
    def tracing(self):
        """Record spans, and later the stages submitted, while inside."""
        t0 = time.time() * 1e3
        self.tracer.active = True
        try:
            yield
        finally:
            self.tracer.active = False
            self.trace_windows.append((t0, time.time() * 1e3))

    def group(self, i: int, traced: bool) -> str | None:
        """Tag the jobs of operation i so the traced run can count them."""
        if not traced:
            return None
        g = f"perfbench-op-{i}"
        self.spark.sparkContext.setJobGroup(g, g)
        return g

    # -- correctness -------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(what)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_parquet(corpus: gen.Corpus, path: str, lo: int, hi: int, files: int) -> None:
    """Rows [lo, hi) as ``files`` parquet files, so a scan has that many
    input splits."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pydict(corpus.rows(lo, hi), schema=_ARROW_SCHEMA)
    n = hi - lo
    for k in range(files):
        a, b = k * n // files, (k + 1) * n // files
        pq.write_table(tbl.slice(a, b - a), os.path.join(path, f"part-{k:03d}.parquet"))


def corpus_info(corpus: gen.Corpus) -> dict:
    return {
        "turns": len(corpus),
        "tokens": int(corpus.n_tokens),
        "vocab_size": gen.VOCAB_SIZE,
        "terms_used": corpus.n_terms,
        "unicode_share": round(corpus.n_unicode / len(corpus), 4),
        "empty_share": round(corpus.n_empty / len(corpus), 4),
        "text_bytes": corpus.text_bytes(),
    }


def index_info(ix) -> dict:
    """Shape of a materialized index: shards, (term, shard) rows, postings."""
    from pyspark.sql import functions as F

    r = ix.packed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n").alias("postings"),
        F.countDistinct("shard").alias("shards"),
    ).first()
    st = ix.stats.first()
    return {
        "n_docs": int(st["n_docs"]),
        "shards": int(r["shards"]),
        "term_shard_rows": int(r["rows"]),
        "postings": int(r["postings"]),
        "postings_per_row": round(int(r["postings"]) / max(1, int(r["rows"])), 3),
        "terms": int(ix.terms.count()),
    }


# ---------------------------------------------------------------------------
# answers
# ---------------------------------------------------------------------------


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def same_answer(got: list[tuple], want: list[tuple[int, float]], limit: int) -> bool:
    """Engine rows (doc_id, score, rank) against the oracle's ranked
    (doc_id, score) list (asked for more than ``limit`` rows): ids and
    ranks equal and scores within 1e-9 relative. Docs whose oracle scores
    tie within that tolerance may trade places."""
    top = want[:limit]
    if len(got) != len(top) or [r for _, _, r in got] != list(range(1, len(got) + 1)):
        return False
    if not all(_close(s, ws) for (_, s, _), (_, ws) in zip(got, top)):
        return False
    if [d for d, _, _ in got] == [d for d, _ in top]:
        return True
    oracle = dict(want)
    ids = [d for d, _, _ in got]
    return len(set(ids)) == len(ids) and all(
        d in oracle and _close(oracle[d], s) for d, s, _ in got
    )


def oracle_answer(oracle, q: gen.Query, rel: list[int] | None):
    """The oracle's ranking, with slack rows past the limit for near-ties."""
    extra = q.limit + 20
    if q.kind == "feedback":
        return oracle.search(oracle.expand_query(q.text, rel), limit=extra)
    return oracle.search(q.text, limit=extra, flt=q.flt)


def run_query(ix, q: gen.Query, rel: list[int] | None):
    """One request against the search head, as a caller makes it."""
    from bm25_spark.operators.feedback import search_with_feedback
    from bm25_spark.operators.searcher import search

    if q.kind == "feedback":
        return search_with_feedback(ix, q.text, relevant_doc_ids=rel, limit=q.limit)
    return search(ix, q.text, limit=q.limit, flt=q.flt)


def rows_of(df) -> list[tuple]:
    return [(int(r["doc_id"]), float(r["score"]), int(r["rank"])) for r in df.collect()]


def check_sample(run: Run, oracle, answered: list[tuple], what: str) -> int:
    """Compare a seeded sample of (query, rel, rows) with the oracle;
    returns the number checked."""
    rng = np.random.default_rng([run.seed, 9])
    pick = rng.choice(len(answered), size=min(CHECK_QUERIES, len(answered)), replace=False)
    for j in sorted(int(x) for x in pick):
        q, rel, rows = answered[j]
        want = oracle_answer(oracle, q, rel)
        run.check(same_answer(rows, want, q.limit), f"{what}: {q.kind} {q.text!r} differs from the oracle")
    return len(pick)


def sample_queries(corpus: gen.Corpus, seed: int, n: int) -> list[tuple]:
    """n (query, rel) pairs for checks outside the timed loop; feedback
    queries use the first doc ids of the corpus as their relevant set."""
    qs = gen.QueryStream(corpus, seed, stream=7)
    out = []
    for k in range(n):
        q = qs.next()
        out.append((q, [k, k + 1, k + 2] if q.kind == "feedback" else None))
    return out


def make_oracle(corpus: gen.Corpus, hi: int | None = None):
    from bm25_spark.oracle import OracleBM25

    return OracleBM25(corpus.oracle_docs(0, hi), index_fields=["role", "tool"])


# ---------------------------------------------------------------------------
# shared set-up
# ---------------------------------------------------------------------------


def make_inputs(run: Run, n_turns: int):
    """Generate the corpus and write it as parquet (input generation)."""
    files = 2 * run.env.cores

    def one():
        corpus = gen.make_corpus(run.seed, n_turns)
        path = run.env.path("corpus")
        write_parquet(corpus, path, 0, n_turns, files)
        return corpus, path

    corpus, path = run.repeat("generate_s", one)
    run.info.update(corpus_info(corpus))
    return corpus, path


def build_fixture(run: Run, path: str, n_turns: int) -> str:
    """The persisted index the query workloads serve: the build workload's
    output for the same seed. Built before timing; not part of setup_s."""
    from bm25_spark.operators.indexer import build_index, write_index

    out = run.env.path("index")

    def one():
        ix = build_index(
            run.spark.read.parquet(path), shard_size=shard_size(n_turns, run.env.cores)
        ).materialize()
        write_index(ix, out)
        run.info.update(index_info(ix))
        ix.unpersist()

    run.exclude("fixture_build_s", one)
    run.info["index_bytes"] = dir_bytes(out)
    return out


def warm_build(run: Run, path: str) -> None:
    """Pay the first build's one-time costs (Python workers, JIT) on one
    input file, so that timed builds measure steady-state work."""
    from bm25_spark.operators.indexer import build_index, write_index

    t = T()
    first = sorted(os.listdir(path))[0]
    ix = build_index(run.spark.read.parquet(os.path.join(path, first)), shard_size=64)
    ix.materialize()
    write_index(ix, run.env.path("warmup-index"))
    ix.unpersist()
    run.setup_parts["warmup_build_s"] = T() - t


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def build(run: Run) -> dict:
    """build_index (ids from (conv_id, turn_idx)) -> materialize -> write_index."""
    import shutil

    from bm25_spark.operators.indexer import build_index, write_index

    run.start()
    corpus, path = make_inputs(run, N_TURNS)
    warm_build(run, path)
    shard = shard_size(N_TURNS, run.env.cores)
    df = run.spark.read.parquet(path)
    state = {"ix": None, "path": None, "bytes": []}

    def op(i, traced):
        # the previous build's cached tables would serve this build's
        # identical plans, so they go first
        if state["ix"] is not None:
            state["ix"].unpersist()
            shutil.rmtree(state["path"], ignore_errors=True)
        out = run.env.path(f"build-{i}")
        ix = build_index(df, shard_size=shard).materialize()
        write_index(ix, out)
        state["bytes"].append(dir_bytes(out))
        state["ix"], state["path"] = ix, out

    lat, traced_lat = run.loop(op)

    # correctness: index shape against the generator, then sampled queries
    # on the persisted index read back
    ix = state["ix"]
    shape = index_info(ix)
    run.info.update(shape)
    run.check(shape["n_docs"] == N_TURNS, f"n_docs {shape['n_docs']} != {N_TURNS}")
    run.check(shape["postings"] == corpus.sum_df(), f"sum df {shape['postings']} != {corpus.sum_df()}")
    run.check(shape["terms"] == corpus.n_terms, f"terms {shape['terms']} != {corpus.n_terms}")
    run.attempted += 3
    checked = check_persisted(run, corpus, state["path"], n_docs=N_TURNS)
    run.attempted += checked
    ix.unpersist()

    text_bytes = run.info["text_bytes"]
    bytes_ratio = median(state["bytes"]) / text_bytes
    e2e = {
        "op_p50_ms": median(lat) * 1e3,
        "throughput_per_s": N_TURNS / median(lat),
        "bytes_per_text_byte": bytes_ratio,
    }
    named = {
        "build_turns_per_s": (N_TURNS / median(lat), "1/s"),
        "index_bytes_per_text_byte": (bytes_ratio, "ratio"),
        "build_s": (median(lat), "s"),
    }
    run.info["builds"] = len(lat)
    layers = {}
    if run.tracer:
        layers = build_layers(run, traced_lat, median(state["bytes"]), shape)
        layers.update(overhead(lat, traced_lat))
    return finish(run, lat, e2e, named, layers)


def check_persisted(run: Run, corpus: gen.Corpus, path: str, n_docs: int) -> int:
    """Sampled queries on a persisted index, read back and warmed."""
    from bm25_spark.operators.indexer import read_index
    from bm25_spark.operators.packed import warm_query_caches

    ix = read_index(run.spark, path)
    warm_query_caches(ix)
    oracle = make_oracle(corpus, n_docs)
    answered = [(q, rel, rows_of(run_query(ix, q, rel))) for q, rel in sample_queries(corpus, run.seed, 10)]
    return check_sample(run, oracle, answered, "persisted index")


def query_warm(run: Run) -> dict:
    """Single queries against a warmed search head."""
    from bm25_spark.operators.indexer import read_index
    from bm25_spark.operators.packed import warm_query_caches

    run.start()
    corpus, path = make_inputs(run, N_TURNS)
    index_path = build_fixture(run, path, N_TURNS)

    times_read = []

    def head():
        t = T()
        ix = read_index(run.spark, index_path)
        times_read.append(T() - t)
        warm_query_caches(ix)
        return ix

    ix = run.repeat("open_head_s", head)
    run.info["read_index_s"] = round(median(times_read), 4)
    # one-time query code paths (codegen of the local result relation,
    # the empty result) before timing, as a search head does at start-up
    for text in (corpus.vocab[0], "qx0 qx1"):
        run_query(ix, gen.Query("plain", text, 10), None).collect()
    # the repeated filters' allowed-doc sets, which the head caches
    for flt in gen.FILTERS:
        run_query(ix, gen.Query("filtered", corpus.vocab[0], 10, flt), None).collect()
    # JIT warm-up: query latency keeps falling for the first ~100 queries
    # of a fresh process while the JVM compiles the query path; a search
    # head pays that once, so it is set-up here (feedback requests, which
    # are Python-bound, run as plain searches)
    warm = gen.QueryStream(corpus, run.seed, stream=5)
    for _ in range(WARMUP_QUERIES):
        q = warm.next()
        if q.kind == "feedback":
            q.kind = "plain"
        run_query(ix, q, None).collect()
    # settle the fixture build's garbage, which queries should not pay for
    run.spark._jvm.System.gc()
    gc.collect()

    stream = gen.QueryStream(corpus, run.seed)
    answered: list[tuple] = []
    per_kind: dict[str, list] = {k: [] for k in QUERY_KINDS}
    jobs: dict[str, list[int]] = {k: [] for k in QUERY_KINDS}
    paths: list[str] = []
    state = {"last_top": None, "head_terms": 0, "unknown_terms": 0, "terms": 0}

    def op(i, traced):
        q = stream.next()
        if q.kind == "feedback" and not state["last_top"]:
            q.kind = "plain"
        rel = state["last_top"] if q.kind == "feedback" else None
        g = run.group(i, traced)
        t = T()
        df = run_query(ix, q, rel)
        with run.span("searcher.collect"):
            rows = [(int(r["doc_id"]), float(r["score"]), int(r["rank"])) for r in df.collect()]
        per_kind[q.kind].append(T() - t)
        if g:
            jobs[q.kind].append(jobs_in_group(run.spark, g))
            if q.kind != "unknown":
                plan = df._jdf.queryExecution().executedPlan().toString()
                paths.append("cluster" if "FlatMapGroupsInPandas" in plan else "driver")
        answered.append((q, rel, rows))
        state["head_terms"] += q.n_head
        state["unknown_terms"] += q.n_unknown
        state["terms"] += len(q.text.split())
        if rows and q.kind in ("plain", "filtered"):
            state["last_top"] = [d for d, _, _ in rows[:3]]

    lat, traced_lat = run.loop(op)

    checked = check_sample(run, make_oracle(corpus), answered, "query_warm")
    run.info.update(
        {
            "queries": len(answered),
            "checked_queries": checked,
            "query_mix": {k: len(v) for k, v in per_kind.items()},
            "query_p50_ms_by_kind": {
                k: round(median(v) * 1e3, 2) for k, v in per_kind.items() if v
            },
            "head_term_share": round(state["head_terms"] / max(1, state["terms"]), 4),
            "unknown_term_share": round(state["unknown_terms"] / max(1, state["terms"]), 4),
            "filter_selectivity": {
                str(f): round(corpus.filter_selectivity(f), 4) for f in gen.FILTERS
            },
        }
    )
    p50, p95 = np.percentile(lat, [50, 95]) * 1e3
    e2e = {
        "op_p50_ms": float(p50),
        "throughput_per_s": len(lat) / sum(lat),
        "bytes_per_text_byte": run.info["index_bytes"] / run.info["text_bytes"],
    }
    named = {
        "query_p50_ms": (float(p50), "ms"),
        "query_p95_ms": (float(p95), "ms"),
        "query_samples": (len(lat), "count"),
        "query_samples_beyond_p95": (int(sum(x * 1e3 > p95 for x in lat)), "count"),
    }
    layers = {}
    if run.tracer:
        layers = query_layers(run, traced_lat, per_kind, jobs, paths)
        layers.update(overhead(lat, traced_lat))
    return finish(run, lat, e2e, named, layers)


def query_batch(run: Run) -> dict:
    """search_batch batches large enough for the cluster scorer."""
    from bm25_spark.operators.indexer import read_index
    from bm25_spark.operators.searcher import search_batch

    run.start()
    corpus, path = make_inputs(run, N_TURNS)
    index_path = build_fixture(run, path, N_TURNS)
    ix = run.repeat("read_index_s", lambda: read_index(run.spark, index_path))
    run.info["read_index_s"] = round(run.setup_parts["read_index_s"], 4)
    # the first cluster batch of a process starts the grouped-map Python
    # workers and compiles the scorer's plan; that is set-up, not a batch
    warm = gen.batch_queries(corpus, run.seed, 0, BATCH_QUERIES, stream=4)
    search_batch(ix, warm, limit=10).collect()

    answered: list[tuple] = []
    paths: list[str] = []
    jobs: list[int] = []

    def op(i, traced):
        batch = gen.batch_queries(corpus, run.seed, i, BATCH_QUERIES)
        g = run.group(i, traced)
        res = search_batch(ix, batch, limit=10)
        with run.span("searcher.collect"):
            rows = res.collect()
        plan = res._jdf.queryExecution().executedPlan().toString()
        paths.append((traced, "cluster" if "FlatMapGroupsInPandas" in plan else "driver"))
        if g:
            jobs.append(jobs_in_group(run.spark, g))
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"]), int(r["rank"]))
            )
        for qid, text in batch:
            answered.append((gen.Query("plain", text, 10), None, sorted(by_q.get(qid, []), key=lambda x: x[2])))

    lat, traced_lat = run.loop(op, min_ops=TIMED_MIN_OPS)
    checked = check_sample(run, make_oracle(corpus), answered, "query_batch")
    run.info.update(
        {
            "batches": len(lat) + len(traced_lat),
            "batch_queries": BATCH_QUERIES,
            "checked_queries": checked,
            "driver_path_max_work": DRIVER_PATH_MAX_WORK,
            "paths": {p: [q for _, q in paths].count(p) for _, p in set(paths)},
        }
    )
    qps = BATCH_QUERIES * len(lat) / sum(lat)
    e2e = {
        "op_p50_ms": median(lat) * 1e3,
        "throughput_per_s": qps,
        "bytes_per_text_byte": run.info["index_bytes"] / run.info["text_bytes"],
    }
    named = {
        "batch_queries_per_s": (qps, "1/s"),
        "batch_p50_s": (median(lat), "s"),
        "batch_samples": (len(lat), "count"),
    }
    layers = {}
    if run.tracer:
        layers = batch_layers(run, traced_lat, jobs, [q for t, q in paths if t])
        layers.update(overhead(lat, traced_lat))
    return finish(run, lat, e2e, named, layers)


def ingest(run: Run) -> dict:
    """stream_ingest(available_now, build_segment_index) per appended file,
    then compact_segments(incremental=True).materialize()."""
    from bm25_spark.sources.datagen import TRANSCRIPT_SCHEMA
    from bm25_spark.streaming.ingest import compact_segments, stream_ingest

    run.start()
    staging = run.env.path("staging")
    stream_in = run.env.path("stream-in")
    root = run.env.path("stream-root")
    ckpt = run.env.path("stream-checkpoint")
    shard = shard_size(INGEST_TURNS, run.env.cores)

    def inputs():
        corpus = gen.make_corpus(run.seed, INGEST_TURNS)
        cuts = gen.micro_batches(corpus, INGEST_BATCHES)
        for k, (lo, hi) in enumerate(cuts):
            write_parquet(corpus, os.path.join(staging, f"batch-{k:03d}"), lo, hi, 1)
        return corpus, cuts

    corpus, cuts = run.repeat("generate_s", inputs)
    run.info.update(corpus_info(corpus))
    os.makedirs(stream_in)

    def append(k: int) -> None:
        os.replace(
            os.path.join(staging, f"batch-{k:03d}", "part-000.parquet"),
            os.path.join(stream_in, f"batch-{k:03d}.parquet"),
        )
        stream_ingest(
            run.spark, stream_in, root, TRANSCRIPT_SCHEMA, checkpoint_dir=ckpt,
            available_now=True, build_segment_index=True, shard_size=shard,
        )

    # The stream's first micro-batch carries its start-up (streaming query,
    # Python workers, JIT); it is set-up, and the timed appends follow it.
    t = T()
    append(0)
    run.setup_parts["first_batch_s"] = T() - t

    untraced_turns = []

    def op(i, traced):
        append(i + 1)
        if not traced:
            untraced_turns.append(cuts[i + 1][1] - cuts[i + 1][0])

    lat, traced_lat = run.loop(op, min_ops=TIMED_MIN_OPS, max_ops=len(cuts) - 1)
    n_batches = 1 + len(lat) + len(traced_lat)
    hi = cuts[n_batches - 1][1]
    t = T()
    with run.tracing() if run.tracer else nullcontext():
        cix = compact_segments(run.spark, root, incremental=True).materialize()
    compact_s = T() - t
    ingest_bytes = dir_bytes(root)
    seg_index_bytes = dir_bytes(os.path.join(root, "segment_indexes"))

    # correctness: shape against the generator; answers against the
    # engine's from-scratch rebuild of the same segments and the oracle
    shape = index_info(cix)
    run.check(shape["n_docs"] == hi, f"n_docs {shape['n_docs']} != {hi}")
    run.check(shape["postings"] == corpus.sum_df(hi), f"sum df {shape['postings']} != {corpus.sum_df(hi)}")
    ref = compact_segments(run.spark, root, shard_size=shard).materialize()
    checked = check_against(run, corpus, hi, cix, ref)
    run.attempted += 2 + checked
    ref.unpersist()
    cix.unpersist()

    text_bytes = corpus.text_bytes(hi)
    tput = sum(untraced_turns) / sum(lat)
    run.info.update(shape)
    run.info.update({"micro_batches": n_batches, "ingested_turns": hi,
                     "micro_batch_turns": [b - a for a, b in cuts[:n_batches]]})
    e2e = {
        "op_p50_ms": median(lat) * 1e3,
        "throughput_per_s": tput,
        "bytes_per_text_byte": ingest_bytes / text_bytes,
    }
    named = {
        "ingest_turns_per_s": (tput, "1/s"),
        "compact_s": (compact_s, "s"),
        "micro_batch_p50_s": (median(lat), "s"),
    }
    layers = {}
    if run.tracer:
        layers = ingest_layers(run, traced_lat, ingest_bytes / text_bytes,
                               seg_index_bytes / n_batches, shape)
        layers.update(overhead(lat, traced_lat))
    return finish(run, lat, e2e, named, layers)


def check_against(run: Run, corpus: gen.Corpus, hi: int, cix, ref) -> int:
    """Sampled queries: the compacted index must answer exactly as the
    from-scratch build, and as the oracle."""
    from bm25_spark.operators.packed import warm_query_caches

    warm_query_caches(cix)
    warm_query_caches(ref)
    oracle = make_oracle(corpus, hi)
    answered = []
    for q, rel in sample_queries(corpus, run.seed, 10):
        got = rows_of(run_query(cix, q, rel))
        want = rows_of(run_query(ref, q, rel))
        run.check(got == want, f"compacted vs rebuilt: {q.kind} {q.text!r} differs")
        answered.append((q, rel, got))
    return check_sample(run, oracle, answered, "compacted index")


WORKLOADS = {
    "build": build,
    "query_warm": query_warm,
    "query_batch": query_batch,
    "ingest": ingest,
}


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

PER_LAYER = [
    ("session.start_s", "s"),
    ("docids.assign_s", "s"),
    ("indexer.map.run_s", "s"),
    ("indexer.map.cpu_s", "s"),
    ("indexer.map.tasks", "count"),
    ("indexer.shuffle.write_bytes", "bytes"),
    ("indexer.shuffle.read_bytes", "bytes"),
    ("indexer.merge.run_s", "s"),
    ("indexer.merge.tasks", "count"),
    ("indexer.merge.max_task_s", "s"),
    ("indexer.terms.run_s", "s"),
    ("indexer.materialize_s", "s"),
    ("indexer.write_index_s", "s"),
    ("indexer.write_index.bytes", "bytes"),
    ("indexer.packed_rows", "count"),
    ("indexer.postings", "count"),
    ("indexer.terms", "count"),
    ("indexer.read_index_s", "s"),
    ("packed.warm_s", "s"),
    ("analyzer.query_term_counts_ms", "ms"),
    ("packed.search_packed_ms", "ms"),
    ("codec.unpack_blocks_ms", "ms"),
    ("codec.blocks_decoded", "count"),
    ("searcher.wrap_ms", "ms"),
    ("searcher.collect_ms", "ms"),
    ("feedback.expand_ms", "ms"),
    ("spark.jobs_per_query.plain", "count"),
    ("spark.jobs_per_query.filtered", "count"),
    ("spark.jobs_per_query.feedback", "count"),
    ("spark.jobs_per_query.unknown", "count"),
    ("packed.path.driver_frac", "ratio"),
    ("packed.cluster.run_s", "s"),
    ("packed.cluster.tasks", "count"),
    ("packed.cluster.max_task_s", "s"),
    ("packed.cluster.shuffle_bytes", "bytes"),
    ("spark.jobs_per_batch", "count"),
    ("streaming.micro_batch_s", "s"),
    ("ingest.bytes_written_per_text_byte", "ratio"),
    ("trace.untraced_op_p50_ms", "ms"),
    ("trace.traced_op_p50_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]


def overhead(lat: list[float], traced_lat: list[float]) -> dict:
    a, b = median(lat) * 1e3, median(traced_lat) * 1e3
    return {
        "trace.untraced_op_p50_ms": a,
        "trace.traced_op_p50_ms": b,
        "trace.overhead_ms": b - a,
    }


def _window(run: Run):
    tr = run.tracer
    stages = stage_totals(read_stages(run.spark, run.trace_windows))
    return tr.totals(), tr.self_times(), stages


def _stage(stages: dict, layer: str, key: str) -> float:
    return stages.get(layer, {}).get(key, 0.0)


def _indexer_stage_layers(stages: dict, n: int) -> dict:
    idx = [v for k, v in stages.items() if k.startswith("indexer.") or k == "docids"]
    return {
        "indexer.map.run_s": _stage(stages, "indexer.map", "run_s") / n,
        "indexer.map.cpu_s": _stage(stages, "indexer.map", "cpu_s") / n,
        "indexer.map.tasks": _stage(stages, "indexer.map", "tasks") / n,
        "indexer.shuffle.write_bytes": sum(v["shuffle_write"] for v in idx) / n,
        "indexer.shuffle.read_bytes": sum(v["shuffle_read"] for v in idx) / n,
        "indexer.merge.run_s": _stage(stages, "indexer.merge", "run_s") / n,
        "indexer.merge.tasks": _stage(stages, "indexer.merge", "tasks") / n,
        "indexer.merge.max_task_s": _stage(stages, "indexer.merge", "max_task_s"),
        "indexer.terms.run_s": _stage(stages, "indexer.terms", "run_s") / n,
    }


def build_layers(run: Run, traced_lat, written: float, shape: dict) -> dict:
    tot, _, stages = _window(run)
    n = len(traced_lat)
    out = {
        "docids.assign_s": tot.get("docids.assign", 0.0) / n,
        "indexer.materialize_s": tot.get("indexer.materialize", 0.0) / n,
        "indexer.write_index_s": tot.get("indexer.write_index", 0.0) / n,
        "indexer.write_index.bytes": written,
        "indexer.packed_rows": shape["term_shard_rows"],
        "indexer.postings": shape["postings"],
        "indexer.terms": shape["terms"],
    }
    out.update(_indexer_stage_layers(stages, n))
    return out


def query_layers(run: Run, traced_lat, per_kind, jobs, paths) -> dict:
    tot, self_t, _ = _window(run)
    n = len(traced_lat)
    n_fb = max(1, run.tracer.count("feedback.search_with_feedback"))
    out = {
        "indexer.read_index_s": run.info["read_index_s"],
        "packed.warm_s": run.setup_parts["open_head_s"] - run.info["read_index_s"],
        "indexer.packed_rows": run.info["term_shard_rows"],
        "indexer.postings": run.info["postings"],
        "indexer.terms": run.info["terms"],
        "analyzer.query_term_counts_ms": tot.get("analyzer.query_term_counts", 0.0) * 1e3 / n,
        "packed.search_packed_ms": self_t.get("packed.search_packed", 0.0) * 1e3 / n,
        "codec.unpack_blocks_ms": tot.get("codec.unpack", 0.0) * 1e3 / n,
        "codec.blocks_decoded": run.tracer.blocks_decoded / n,
        "searcher.wrap_ms": self_t.get("searcher.search", 0.0) * 1e3 / n,
        "searcher.collect_ms": tot.get("searcher.collect", 0.0) * 1e3 / n,
        "feedback.expand_ms": self_t.get("feedback.search_with_feedback", 0.0) * 1e3 / n_fb,
        "packed.path.driver_frac": paths.count("driver") / max(1, len(paths)),
    }
    for k in QUERY_KINDS:
        if jobs[k]:
            out[f"spark.jobs_per_query.{k}"] = sum(jobs[k]) / len(jobs[k])
    return out


def batch_layers(run: Run, traced_lat, jobs, paths) -> dict:
    tot, self_t, stages = _window(run)
    n = len(traced_lat)
    return {
        "indexer.read_index_s": run.info["read_index_s"],
        "indexer.packed_rows": run.info["term_shard_rows"],
        "indexer.postings": run.info["postings"],
        "indexer.terms": run.info["terms"],
        "analyzer.query_term_counts_ms": tot.get("analyzer.query_term_counts", 0.0) * 1e3 / n,
        "packed.search_packed_ms": self_t.get("packed.search_packed", 0.0) * 1e3 / n,
        "codec.unpack_blocks_ms": tot.get("codec.unpack", 0.0) * 1e3 / n,
        "codec.blocks_decoded": run.tracer.blocks_decoded / n,
        "searcher.collect_ms": tot.get("searcher.collect", 0.0) * 1e3 / n,
        "packed.path.driver_frac": paths.count("driver") / max(1, len(paths)),
        "packed.cluster.run_s": _stage(stages, "packed.cluster", "run_s") / n,
        "packed.cluster.tasks": _stage(stages, "packed.cluster", "tasks") / n,
        "packed.cluster.max_task_s": _stage(stages, "packed.cluster", "max_task_s"),
        "packed.cluster.shuffle_bytes": _stage(stages, "packed.cluster", "shuffle_read") / n,
        "spark.jobs_per_batch": sum(jobs) / max(1, len(jobs)),
    }


def ingest_layers(run: Run, traced_lat, bytes_ratio: float, seg_bytes: float, shape: dict) -> dict:
    """Per traced operation: every second append, plus the compaction."""
    tot, _, stages = _window(run)
    n = len(traced_lat) + 1
    out = {
        "docids.assign_s": tot.get("docids.assign", 0.0) / n,
        "indexer.materialize_s": tot.get("indexer.materialize", 0.0) / n,
        "indexer.write_index_s": tot.get("indexer.write_index", 0.0) / n,
        "indexer.read_index_s": tot.get("indexer.read_index", 0.0) / n,
        "indexer.write_index.bytes": seg_bytes,
        "indexer.packed_rows": shape["term_shard_rows"],
        "indexer.postings": shape["postings"],
        "indexer.terms": shape["terms"],
        "streaming.micro_batch_s": (
            tot.get("indexer.build_index", 0.0) + tot.get("indexer.write_index", 0.0)
        ) / len(traced_lat),
        "ingest.bytes_written_per_text_byte": bytes_ratio,
    }
    out.update(_indexer_stage_layers(stages, n))
    return out


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------


def finish(run: Run, lat, e2e: dict, named: dict, layers: dict) -> dict:
    rss = peak_rss_mb()
    setup_s = run.setup_s
    failed_frac = run.failed / max(1, run.attempted)
    named = dict(named)
    named["setup_s"] = (setup_s, "s")
    named["failed_frac"] = (failed_frac, "ratio")
    named["head_rss_mb"] = (rss, "MB")
    e2e = dict(e2e, setup_s=setup_s, peak_rss_mb=rss)
    if run.tracer:
        layers = dict(layers)
        layers["session.start_s"] = run.setup_parts["session_s"]
    return {
        "e2e": e2e,
        "named": named,
        "layers": layers,
        "samples": len(lat),
        "setup_parts": {k: round(v, 4) for k, v in run.setup_parts.items()},
        "info": run.info,
        "notes": run.notes,
        "attempted": run.attempted,
        "failed": run.failed,
    }
