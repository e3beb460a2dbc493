"""Capture .explain('formatted') evidence for the headline operators into
PLANS.md — the physical-plan audit trail for the 100 TB design claims:

- parquet scans show PushedFilters + pruned ReadSchema (term/pk lookups
  touch only the needed posting rows and columns),
- small sides broadcast (terms/stats/query frames), never shuffled,
- the build's one wide exchange hash-partitions on (pk, term, shard),
- WholeStageCodegen spans cover the JVM-side expression work.

Runs on the sf0.01 test data (plan SHAPE is scale-independent: the same
operators appear at any SF; only statistics differ).

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def captured_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> int:
    from pyspark.sql import functions as F

    from bm25_spark.operators.dedup import exact_duplicates
    from bm25_spark.operators.indexer import build_index, read_index, write_index
    from bm25_spark.operators.packed import search_packed
    from bm25_spark.operators.similarity import brute_topk
    from bm25_spark.session import get_spark

    spark = get_spark(app="plan-audit", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    sections: list[tuple[str, str, str]] = []

    # 1. build: the pack-merge exchange (the build's ONLY wide shuffle)
    idx = build_index(
        docs, text_col="text", id_col="doc_id", index_fields=("lang",),
        shard_size=1 << 12,
    )
    sections.append(
        (
            "Index build — packed postings",
            "One narrow mapInArrow stage (fused tokenize+TF+pack) feeding a "
            "single hash exchange on (pk, term, shard) — hot Zipf terms are "
            "pre-split by doc-range shard, so no reducer key explodes. "
            "Look for: exactly one Exchange hashpartitioning(pk, term, "
            "shard); ArrowEvalPython/MapInArrow directly over the parquet "
            "scan; no extra sort or shuffle.",
            captured_explain(idx.packed),
        )
    )

    # 2. persisted-index query scan: term pushdown into parquet
    root = "/tmp/plan_audit_index"
    write_index(idx.materialize(persist_docs=False), root)
    loaded = read_index(spark, root)
    probe = loaded.packed.filter(
        F.col("term").isin(["data", "table"])
    ).select("pk", "term", "shard", "n", "data")
    sections.append(
        (
            "Query-time posting lookup on the persisted index",
            "A query's dictionary/blob probes push the term predicate into "
            "the parquet scan. Look for: PushedFilters with In(term, ...); "
            "ReadSchema holding ONLY the probed columns (no doc text, no "
            "block metadata when unselected).",
            captured_explain(probe),
        )
    )

    # 3. cluster scorer: broadcast of the tiny query frame, no blob x Q
    res = search_packed(
        loaded, [(0, "data table"), (1, "scan filter")], limit=10,
        force_cluster=True,
    )
    sections.append(
        (
            "Cluster batch scorer",
            "The WHOLE query batch scores per (pk, shard) group: packed "
            "blobs cross the shuffle once per plan-time bucket (bounded by "
            "parallelism), never once per query; the (pk, shard, bucket) "
            "groups are dealt round-robin to min(cores, groups) scoring "
            "tasks, and each group is ONE score_shard call for all the "
            "bucket's queries (each block varint-decoded once, one "
            "bincount per query chunk). Look for: exactly one blob-side "
            "Exchange shufflepartitionidpassthrough("
            "direct_shuffle_partition_id(task), n_tasks) marked "
            "REPARTITION_BY_NUM (an explicit count AQE does not coalesce) "
            "directly under the FlatMapGroupsInPandas scorer, grouped by "
            "(task, pk, shard, qb) so each group is its own call; the "
            "task column a pmod(...) of (shard, qb), plus a per-pk offset "
            "from a broadcast (pk, pk_base) join on a partitioned index; "
            "PushedFilters with In(term, ...); the query frame entering "
            "via broadcast/local relation, not a shuffle.",
            captured_explain(res),
        )
    )

    # 4. ANN brute force: broadcast queries, pruned embedding scan
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ann = brute_topk(emb, [(0, list(qv))], k=10)
    sections.append(
        (
            "ANN brute-force top-k",
            "Query vectors broadcast to every embedding partition; the "
            "scan reads only (vec_id, embedding). Look for: "
            "BroadcastExchange on the query side; TakeOrderedAndProject "
            "(distributed bounded heap) instead of a global sort.",
            captured_explain(ann),
        )
    )

    # 5. exact dedup: one hash shuffle on a 16-byte key
    dd = exact_duplicates(docs)
    sections.append(
        (
            "Exact dedup",
            "One hash aggregation on md5(text) with map-side partial agg. "
            "Look for: partial_ then final HashAggregate pair around a "
            "single Exchange.",
            captured_explain(dd),
        )
    )

    # 6. simhash: one aggregation over the token explode — no per-bit
    # row explosion (round 5)
    from bm25_spark.operators.dedup import simhash

    sh = simhash(docs)
    sections.append(
        (
            "SimHash signatures",
            "One groupBy(doc_id) carrying 60 partially-aggregatable SUM "
            "columns over the token explode — the per-bit votes never "
            "become rows. Look for: exactly one Generate (the token "
            "explode); a partial_/final HashAggregate pair around a "
            "single Exchange hashpartitioning(doc_id); no second "
            "aggregation pass.",
            captured_explain(sh),
        )
    )

    # 7. IVF cell assignment past the literal-plan budget (round 5):
    # broadcast centroid matrix + narrow mapInPandas GEMM
    from bm25_spark.operators.similarity import ivf_cells, ivf_seed_centroids

    cents = ivf_seed_centroids(emb, nlist=8)
    cells = ivf_cells(emb, centroids=cents, impl="pandas")
    sections.append(
        (
            "IVF cell assignment (broadcast-matrix path)",
            "The production assignment for large nlist*dim: the centroid "
            "matrix rides a sparkContext broadcast (not the plan), and "
            "assignment is one narrow MapInPandas over the scan — plan "
            "size is O(1) in nlist and dim. Look for: MapInPandas "
            "directly over the (projected) scan; NO Exchange; no "
            "centroid literals in the plan.",
            captured_explain(cells),
        )
    )

    # 9. language ID: one narrow weighted-pattern projection (round 5)
    from bm25_spark.operators.textstats import lang_id

    sections.append(
        (
            "Language ID — 15-language weighted-pattern projection",
            "lang_id is ~5k replace/length expressions over ONE narrow "
            "projection (generated SQL via F.expr, balanced-tree sums). "
            "Look for: a single Project over the (pruned doc_id,text) "
            "scan; NO Exchange, NO Generate, NO Python/pandas stage — "
            "per-row cost is bounded by LANG_MAX_CHARS, so the operator "
            "scales linearly with rows at 100 TB.",
            captured_explain(lang_id(docs)),
        )
    )

    # 10. repetition stats: dup-line JVM math + doc-keyed bigram aggs
    from bm25_spark.operators.textstats import repetition_stats

    sections.append(
        (
            "Repetition stats — dup-line + top-bigram",
            "dup_line_frac is array math inside the scan projection (no "
            "explode); top_bigram_frac explodes to (doc_id, bigram) and "
            "aggregates twice keyed by doc_id. Look for: partial_count / "
            "partial_max before each Exchange (map-side combine), "
            "exchanges hashed on doc_id-prefixed keys only, and the final "
            "left join reusing the doc_id hash — linear in rows, "
            "never O(n^2) per doc.",
            captured_explain(repetition_stats(docs)),
        )
    )

    lines = [
        "# PLANS — physical-plan audit of the headline operators",
        "",
        "Generated by `python tools/plan_audit.py` (sf0.01; plan shape is",
        "scale-independent). Each section states what the plan MUST show",
        "for the 100 TB design claims, followed by the actual",
        "`.explain('formatted')` output.",
        "",
    ]
    for title, what, plan in sections:
        lines += [f"## {title}", "", what, "", "```", plan, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(sections)} sections)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
