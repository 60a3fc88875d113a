#!/usr/bin/env python
"""Incremental duplicate-cluster maintenance economics at 10x corpus
size (r12): per-ingest cost of ``indexed_near_dup_pairs`` +
``merge_cluster_labels`` + ``append_dedup_index`` for a FIXED-size
batch against a small vs a 10x corpus, next to the from-scratch
``connected_components`` recompute the incremental path replaces.

The contract under test: the per-ingest path is O(batch + touched) —
flat-ish in accumulated corpus size (only the index-side posting probe
grows) — while the from-scratch recompute is O(corpus pairs) and grows
with the corpus. Mirrors tools/measure_batch_scale.py's protocol
(warm JVM, wall of the full artifact op, min of 2 where the op is
side-effect-free; the merge itself is timed once per fresh index —
retry overwrites would hide listing overhead).

Usage: python tools/measure_cluster_merge.py
Env: SCALE_SMALL (default /root/testdata/sf0.01),
     SCALE_BIG (default /root/testdata/sf0.1), BATCH_DOCS (default 512).

``PATHOLOGICAL=<groups>,<population>``: one hub merge bridging many
clusters (below). ``CROSSOVER=<pairs>[,<pairs>...]``: wall of
``connected_components`` on the driver path vs the distributed path
for synthetic dedup-shaped graphs (chains of 4 docs) of that many
pairs — the measurement behind ``dedup._DRIVER_CC_MAX_EDGES``.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pandas_aws_spark.operators.dedup import (
    append_dedup_index,
    build_dedup_index,
    connected_components,
    indexed_near_dup_pairs,
    init_cluster_labels,
    merge_cluster_labels,
    minhash_near_dup_pairs,
    read_dedup_index,
    release_cached_inputs,
    write_dedup_index,
)
from pandas_aws_spark.session import get_spark

RECIPE = dict(shingle_k=3, n_hashes=8, bands=4)
THRESHOLD = 0.8


def measure(spark, sf_dir: str, batch_docs: int) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(batch_docs).collect()]
    cutoff = ids[-1]
    batch = docs.filter(F.col("doc_id") <= cutoff).localCheckpoint()
    corpus = docs.filter(F.col("doc_id") > cutoff).localCheckpoint()
    n_corpus, n_batch = corpus.count(), batch.count()

    work = tempfile.mkdtemp(prefix="measure_cluster_merge_")
    path = f"{work}/idx"
    try:
        write_dedup_index(build_dedup_index(corpus, "doc_id", "text", **RECIPE), path)
        t0 = time.perf_counter()
        p0 = minhash_near_dup_pairs(
            corpus, "doc_id", "text", threshold=THRESHOLD, **RECIPE
        )
        init_cluster_labels(p0, path)
        release_cached_inputs(p0)
        t_init = time.perf_counter() - t0

        stored = read_dedup_index(spark, path)
        t0 = time.perf_counter()
        cross = indexed_near_dup_pairs(batch, stored, "text", threshold=THRESHOLD)
        internal = minhash_near_dup_pairs(
            batch, "doc_id", "text", threshold=THRESHOLD, **RECIPE
        )
        merge_cluster_labels(
            cross.select("id_a", "id_b").unionByName(internal.select("id_a", "id_b")),
            path,
            batch_id="m1",
        )
        release_cached_inputs(cross)
        release_cached_inputs(internal)
        append_dedup_index(
            build_dedup_index(batch, "doc_id", "text", **RECIPE), path, batch_id="m1"
        )
        t_ingest = time.perf_counter() - t0

        # the recompute the incremental path replaces: from-scratch CC
        # over the UNION corpus's full pair graph
        t0 = time.perf_counter()
        all_pairs = minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=THRESHOLD, **RECIPE
        )
        connected_components(all_pairs).write.format("noop").mode("overwrite").save()
        release_cached_inputs(all_pairs)
        t_scratch = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "corpus_docs": n_corpus,
        "batch_docs": n_batch,
        "init_s": round(t_init, 2),
        "ingest_s": round(t_ingest, 2),
        "scratch_cc_s": round(t_scratch, 2),
    }


def measure_pathological(spark, n_groups: int, group_size: int, population: int) -> dict:
    """Worst-case label churn (r12 verdict ask #7): ONE merge whose hub
    doc bridges ``n_groups`` existing clusters of ``group_size`` docs
    each, on top of an UNTOUCHED labeled population of ``population``
    docs. The O(batch + touched) claim predicts wall time tracks
    n_groups * group_size (the relabeled members) and stays flat as
    ``population`` grows — the stored labels are only ever probed by
    broadcast joins, never shuffled."""
    docs_per_group = group_size
    touched = n_groups * docs_per_group
    work = tempfile.mkdtemp(prefix="measure_pathological_merge_")
    path = f"{work}/labels"
    spark_range = spark.range
    try:
        # synthetic label artifact: groups of `group_size` consecutive ids
        # starting at 1000, plus `population` untouched docs above 10^9
        g = spark_range(n_groups).selectExpr("id AS grp")
        members = g.selectExpr(
            f"explode(sequence(1, {docs_per_group - 1})) AS i",
            f"1000 + grp * {docs_per_group} AS head",
        ).selectExpr("head AS id_a", "head + i AS id_b")
        upop = spark_range(population).selectExpr(
            "id * 2 + 1000000000 AS id_a", "id * 2 + 1000000001 AS id_b"
        )
        init_cluster_labels(members.unionByName(upop), path, max_iter=6)

        hub = spark_range(n_groups).selectExpr(
            "CAST(7 AS LONG) AS id_a", f"1000 + id * {docs_per_group} AS id_b"
        )
        t0 = time.perf_counter()
        merge_cluster_labels(hub, path, batch_id="patho")
        t_merge = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "n_groups": n_groups,
        "touched_rows": touched,
        "population": population * 2,
        "merge_s": round(t_merge, 2),
    }


def measure_crossover(spark, n_pairs: int) -> dict:
    """Driver vs distributed ``connected_components`` over ``n_pairs``
    pinned pairs (clusters of 4 docs chained a-b-c-d, 3 pairs each, so
    every path runs the same shallow rounds); each wall is the min of
    2 runs, output consumed by a noop write."""
    from pandas_aws_spark.operators import dedup

    pairs = (
        spark.range(n_pairs)
        .selectExpr("(id DIV 3) * 4 + id % 3 AS id_a", "(id DIV 3) * 4 + id % 3 + 1 AS id_b")
        .localCheckpoint()
    )
    walls = {}
    for name, cap in (("driver", max(n_pairs * 2, dedup._DRIVER_CC_MAX_EDGES)), ("distributed", 0)):
        saved, dedup._DRIVER_CC_MAX_EDGES = dedup._DRIVER_CC_MAX_EDGES, cap
        try:
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                connected_components(pairs).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            walls[name] = round(min(runs), 2)
        finally:
            dedup._DRIVER_CC_MAX_EDGES = saved
    return {"pairs": n_pairs, **walls}


def main() -> int:
    if os.environ.get("CROSSOVER"):
        spark = get_spark(app_name="measure-cc-crossover")
        spark.range(10).count()  # warm-up
        for n in (int(x) for x in os.environ["CROSSOVER"].split(",")):
            r = measure_crossover(spark, n)
            print(
                f"pairs={r['pairs']:8d} driver={r['driver']:7.2f}s "
                f"distributed={r['distributed']:7.2f}s"
            )
        return 0
    if os.environ.get("PATHOLOGICAL"):
        # one config per PROCESS: the bootstrap CC's localCheckpoint
        # blocks from a previous config otherwise linger in executor
        # storage and inflate the next config's wall (observed +3x)
        n_groups, pop = (
            int(x) for x in os.environ["PATHOLOGICAL"].split(",")
        )
        spark = get_spark(app_name="measure-pathological-merge")
        spark.range(10).count()  # warm-up
        r = measure_pathological(spark, n_groups, 20, pop)
        print(
            f"groups={r['n_groups']:6d} touched={r['touched_rows']:7d} "
            f"untouched_pop={r['population']:8d} merge={r['merge_s']:7.2f}s"
        )
        return 0
    small = os.environ.get("SCALE_SMALL", "/root/testdata/sf0.01")
    big = os.environ.get("SCALE_BIG", "/root/testdata/sf0.1")
    batch_docs = int(os.environ.get("BATCH_DOCS", "512"))
    spark = get_spark(app_name="measure-cluster-merge")
    # warm-up: JIT + parquet footers
    spark.read.parquet(f"{small}/documents.parquet").count()
    rows = []
    for label, d in (("small", small), ("big", big)):
        r = measure(spark, d, batch_docs)
        r["scale"] = label
        rows.append(r)
        print(
            f"{label:5s} corpus={r['corpus_docs']:7d} batch={r['batch_docs']:5d} "
            f"init={r['init_s']:7.2f}s ingest={r['ingest_s']:7.2f}s "
            f"scratch_cc={r['scratch_cc_s']:7.2f}s"
        )
    s, b = rows[0], rows[1]
    print(
        f"corpus x{b['corpus_docs'] / max(s['corpus_docs'], 1):.1f}: "
        f"ingest x{b['ingest_s'] / max(s['ingest_s'], 0.01):.2f}, "
        f"scratch CC x{b['scratch_cc_s'] / max(s['scratch_cc_s'], 0.01):.2f}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
