"""Spans and Spark stage metrics for the traced run.

Spans are recorded by the benchmark's own code: ``Tracer.install`` wraps
the public functions of each engine module (every module attribute bound
to the function object is replaced, so ``from x import f`` call sites are
covered too). Spans stay in memory; the run turns them into per-layer
numbers when it ends. A layer's self time is its span's duration minus the
part covered by its child spans. Only driver-side calls are seen: code the
cluster runs in Python workers is measured through stage metrics instead.

Stage metrics come from Spark's status store, which works with the UI
off. Each stage is assigned to a layer by the operators it runs (read from
the stage's RDD operation graph) and by whether it reads a shuffle.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict

# (module, attribute, span name)
PUBLIC_FUNCTIONS = [
    ("bm25_spark.operators.docids", "assign_doc_ids", "docids.assign"),
    ("bm25_spark.functions.analyzer", "query_term_counts", "analyzer.query_term_counts"),
    ("bm25_spark.functions.codec", "unpack_blocks", "codec.unpack"),
    ("bm25_spark.functions.codec", "unpack_postings", "codec.unpack"),
    ("bm25_spark.operators.indexer", "build_index", "indexer.build_index"),
    ("bm25_spark.operators.indexer", "BM25Index.materialize", "indexer.materialize"),
    ("bm25_spark.operators.indexer", "write_index", "indexer.write_index"),
    ("bm25_spark.operators.indexer", "read_index", "indexer.read_index"),
    ("bm25_spark.operators.indexer", "merge_indexes", "indexer.merge_indexes"),
    ("bm25_spark.operators.packed", "warm_query_caches", "packed.warm"),
    ("bm25_spark.operators.packed", "search_packed", "packed.search_packed"),
    ("bm25_spark.operators.searcher", "search", "searcher.search"),
    ("bm25_spark.operators.searcher", "search_batch", "searcher.search_batch"),
    ("bm25_spark.operators.feedback", "search_with_feedback", "feedback.search_with_feedback"),
    ("bm25_spark.streaming.ingest", "stream_ingest", "streaming.stream_ingest"),
    ("bm25_spark.streaming.ingest", "compact_segments", "streaming.compact_segments"),
]


def _blocks_decoded(name: str, args, kwargs) -> int:
    """Blocks of 128 postings one codec call decodes."""
    if name == "unpack_blocks":
        sel = args[5] if len(args) > 5 else kwargs["sel"]
        return len(sel)
    n = args[1] if len(args) > 1 else kwargs["n"]
    return -(-int(n) // 128)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index, thread]
        self.blocks_decoded = 0
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def install(self) -> None:
        """Wrap every function in PUBLIC_FUNCTIONS (idempotent per run)."""
        import importlib

        for modname, attr, name in PUBLIC_FUNCTIONS:
            mod = importlib.import_module(modname)
            owner = mod
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(mod, cls)
            fn = getattr(owner, attr)
            wrapped = self._wrap(fn, name, attr)
            setattr(owner, attr, wrapped)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("bm25_spark"):
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            setattr(m, k, wrapped)

    def _wrap(self, fn, name: str, attr: str):
        tracer = self
        count = attr in ("unpack_blocks", "unpack_postings")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if count:
                tracer.blocks_decoded += _blocks_decoded(attr, args, kwargs)
            with _Span(tracer, name):
                return fn(*args, **kwargs)

        return traced

    # -- aggregation -------------------------------------------------------

    def closed(self) -> list[list]:
        return [s for s in self.spans if s[2] is not None]

    def totals(self) -> dict[str, float]:
        """span name -> summed duration (s)."""
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _, _ in self.closed():
            out[name] += t1 - t0
        return out

    def self_times(self) -> dict[str, float]:
        """span name -> summed self time (s): duration minus the union of
        its direct children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s[2] is not None and s[3] is not None:
                children[s[3]].append((s[1], s[2]))
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            covered, end = 0.0, t0
            for a, b in sorted(children.get(i, ())):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[name] += (t1 - t0) - covered
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.closed() if s[0] == name)


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.idx = None

    def __enter__(self):
        tr = self.tracer
        if not tr.active:
            return self
        st = tr._stack()
        with tr._lock:
            self.idx = len(tr.spans)
            tr.spans.append(
                [self.name, time.perf_counter(), None, st[-1] if st else None,
                 threading.get_ident()]
            )
        st.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.spans[self.idx][2] = time.perf_counter()
            self.tracer._stack().pop()
        return False


# ---------------------------------------------------------------------------
# Stage metrics
# ---------------------------------------------------------------------------

_PYTHON_OPS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")


def stage_layer(ops: set[str], shuffle_read: int) -> str:
    """Layer of one stage, from the operators it runs and whether it reads
    a shuffle:

    - ``packed.cluster``: the grouped-map scorer (``FlatMapGroupsInPandas``);
    - ``indexer.write``: a stage that writes files;
    - ``indexer.merge``: the Arrow map that consumes a shuffle without the
      doc-id numbering map ahead of it, i.e. the (pk, term, shard) merge;
    - ``indexer.map``: the tokenize+pack Arrow map, fed by the source scan
      or by the doc-id numbering shuffle;
    - ``docids``: the doc-id bucket UDF over the source (``ArrowEvalPython``);
    - ``indexer.terms``: JVM-only stages that read a shuffle (term df and
      corpus-stats aggregates);
    - ``other``: everything else (cache reads, probes, samples).
    """
    if "FlatMapGroupsInPandas" in ops:
        return "packed.cluster"
    if "WriteFiles" in ops:
        return "indexer.write"
    if "MapInArrow" in ops:
        if shuffle_read > 0 and "MapInPandas" not in ops:
            return "indexer.merge"
        if "InMemoryTableScan" not in ops:
            return "indexer.map"
        return "other"
    if "ArrowEvalPython" in ops:
        return "docids"
    if shuffle_read > 0 and not any(op in ops for op in _PYTHON_OPS):
        return "indexer.terms"
    return "other"


def _op_names(cluster) -> set[str]:
    out = set()
    stack = [cluster]
    while stack:
        c = stack.pop()
        name = c.name()
        # "WholeStageCodegen (3)" -> "WholeStageCodegen"; "Scan parquet " -> "Scan"
        out.add(name.split(" ")[0] if name else name)
        ch = c.childClusters()
        for j in range(ch.length()):
            stack.append(ch.apply(j))
    return out


def read_stages(spark, windows: list[tuple[float, float]]) -> list[dict]:
    """Completed stages submitted inside one of ``windows`` (epoch ms
    intervals), with their layer and executor metrics."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    q_max = spark._sc._gateway.new_array(jvm.double, 1)
    q_max[0] = 1.0
    out = []
    for i in range(stages.length()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():
            continue
        t = sub.get().getTime()
        if s.numCompleteTasks() == 0 or not any(a <= t <= b for a, b in windows):
            continue
        ops = _op_names(store.operationGraphForStage(s.stageId()).rootCluster())
        summ = store.taskSummary(s.stageId(), s.attemptId(), q_max)
        max_task_ms = summ.get().executorRunTime().apply(0) if summ.isDefined() else 0.0
        out.append(
            {
                "layer": stage_layer(ops, s.shuffleReadBytes()),
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "max_task_s": max_task_ms / 1e3,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
            }
        )
    return out


def stage_totals(stages: list[dict]) -> dict[str, dict]:
    """layer -> summed metrics (max for max_task_s)."""
    out: dict[str, dict] = {}
    for s in stages:
        acc = out.setdefault(
            s["layer"],
            {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "max_task_s": 0.0,
             "shuffle_read": 0, "shuffle_write": 0},
        )
        for k in ("tasks", "run_s", "cpu_s", "shuffle_read", "shuffle_write"):
            acc[k] += s[k]
        acc["max_task_s"] = max(acc["max_task_s"], s["max_task_s"])
    return out


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

