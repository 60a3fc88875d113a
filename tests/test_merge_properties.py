"""Property-based check of the upsert merge semantics (SURVEY §3.4):
for ANY target and update set,

* result keys = (target keys - update keys) + all update rows,
* every update row lands (duplicate keys in the update set included —
  the reference's INSERT-all-staged-rows behavior),
* untouched target rows survive byte-identically.

Hypothesis drives the row sets; examples are kept small because each
example is a real Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pandas_aws_spark.warehouse import WarehouseClient

_row = st.tuples(st.integers(min_value=0, max_value=9), st.text("abc", min_size=1, max_size=3))
_rows = st.lists(_row, min_size=0, max_size=8)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(target_rows=_rows, update_rows=_rows)
def test_merge_semantics_hold_for_any_sets(spark, target_rows, update_rows):
    target = spark.createDataFrame(target_rows or [(99, "zz")], "pk long, payload string")
    if not target_rows:
        target = target.filter("pk < 0")  # truly empty, schema kept
    updates = spark.createDataFrame(update_rows or [(99, "zz")], "pk long, payload string")
    if not update_rows:
        updates = updates.filter("pk < 0")

    merged = sorted(
        tuple(r) for r in WarehouseClient.merge_frames(target, updates, ["pk"]).collect()
    )

    upd_keys = {r[0] for r in update_rows}
    expected = sorted([r for r in target_rows if r[0] not in upd_keys] + update_rows)
    assert merged == expected




# --------------------------------------------------------------------------
# SCD2 invariants: for ANY change log, exactly one current version per
# key, ranges chain without overlap, and every change appears once.
# --------------------------------------------------------------------------
_ts = st.integers(min_value=0, max_value=20)
_change = st.tuples(st.integers(min_value=0, max_value=3), _ts)
_changes = st.lists(_change, min_size=1, max_size=10, unique=True)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(changes=_changes)
def test_scd2_build_invariants(spark, changes):
    import datetime

    from pandas_aws_spark.operators.scd import scd2_build

    rows = [
        (k, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=t), i)
        for i, (k, t) in enumerate(changes)
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, seq int")
    hist = scd2_build(df, ["k"], "ts", ["seq"]).collect()
    assert len(hist) == len(rows)  # every change becomes one version
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    for k, vs in by_key.items():
        assert sum(1 for v in vs if v.is_current) == 1  # exactly one open version
        vs.sort(key=lambda v: (v.valid_from, v.seq))
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from  # ranges chain, no gaps/overlap
        assert vs[-1].valid_to is None


# --------------------------------------------------------------------------
# diff_tables partitions the key universe: every key lands in exactly
# one class, and the class is the correct one.
# --------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left_rows=_rows, right_rows=_rows)
def test_diff_tables_partitions_key_universe(spark, left_rows, right_rows):
    from pandas_aws_spark.operators.reconcile import diff_tables

    left_rows = list({r[0]: r for r in left_rows}.values())  # unique keys
    right_rows = list({r[0]: r for r in right_rows}.values())
    left = spark.createDataFrame(left_rows or [(99, "zz")], "k long, v string")
    if not left_rows:
        left = left.filter("k < 0")
    right = spark.createDataFrame(right_rows or [(99, "zz")], "k long, v string")
    if not right_rows:
        right = right.filter("k < 0")

    out = {r.k: r.diff_class for r in diff_tables(left, right, ["k"], ["v"]).collect()}
    lmap, rmap = dict(left_rows), dict(right_rows)
    assert set(out) == set(lmap) | set(rmap)
    for k, cls in out.items():
        if k in lmap and k not in rmap:
            assert cls == "removed"
        elif k not in lmap and k in rmap:
            assert cls == "added"
        elif lmap[k] == rmap[k]:
            assert cls == "unchanged"
        else:
            assert cls == "changed"


# --------------------------------------------------------------------------
# Incremental cluster-label maintenance (r12 flagship): for ANY initial
# pair set and ANY two merge batches, the persisted labels equal an
# INDEPENDENT union-find over the union pair graph (min-id labels) —
# not just the engine's own connected_components, so a shared bug in
# the CC implementation cannot self-confirm.
# --------------------------------------------------------------------------
_cnode = st.integers(min_value=0, max_value=15)
_cpair = st.tuples(_cnode, _cnode).filter(lambda t: t[0] != t[1])
_cpairs = st.lists(_cpair, min_size=0, max_size=8)


def _union_find_labels(*pair_sets):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ps in pair_sets:
        for a, b in ps:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for node in list(parent):
        comp.setdefault(find(node), []).append(node)
    return sorted(
        (n, min(members)) for members in comp.values() for n in members
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(p0=_cpairs, p1=_cpairs, p2=_cpairs)
def test_incremental_cluster_labels_match_union_find(spark, p0, p1, p2):
    import shutil
    import tempfile

    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        init_cluster_labels,
        merge_cluster_labels,
        read_cluster_labels,
        write_dedup_index,
    )

    work = tempfile.mkdtemp(prefix="prop_cluster_")
    try:
        path = f"{work}/idx"
        corpus = spark.createDataFrame(
            [(i, f"filler body text number {i} here") for i in range(16)],
            "doc_id long, text string",
        )
        write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)

        def frame(ps):
            d = spark.createDataFrame(ps or [(99, 98)], "id_a long, id_b long")
            return d.filter("id_a < 90") if not ps else d

        init_cluster_labels(frame(p0), path)
        merge_cluster_labels(frame(p1), path, batch_id="b1")
        merge_cluster_labels(frame(p2), path, batch_id="b2")
        got = sorted(tuple(r) for r in read_cluster_labels(spark, path).collect())
        assert got == _union_find_labels(p0, p1, p2)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# Cluster labelling runs on the driver for small pair graphs and as
# distributed label propagation above an edge cap: for ANY graph the two
# paths give identical labels, identical stored label rows, and raise on
# the same inputs (a component deeper than max_iter), for
# connected_components and for init + two merges alike.
# --------------------------------------------------------------------------
_chain = st.integers(min_value=0, max_value=5)


def _on_both_paths(fn):
    """``fn()`` on the driver path and with the cap forced to 0 (the
    distributed path): each result, or "raised" for non-convergence."""
    from unittest import mock

    from pandas_aws_spark.operators import dedup

    out = []
    for cap in (dedup._DRIVER_CC_MAX_EDGES, 0):
        with mock.patch.object(dedup, "_DRIVER_CC_MAX_EDGES", cap):
            try:
                out.append(fn())
            except RuntimeError as e:
                assert "did not converge" in str(e)
                out.append("raised")
    return out


def _with_chain(pairs, n):
    # a path of n edges: depth n from its min node
    return list(pairs) + [(100 + i, 101 + i) for i in range(n)]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=_cpairs, chain=_chain, max_iter=st.integers(min_value=2, max_value=4))
def test_connected_components_driver_matches_distributed(spark, pairs, chain, max_iter):
    from pandas_aws_spark.operators.dedup import connected_components

    ps = _with_chain(pairs, chain)
    frame = spark.createDataFrame(ps or [(99, 98)], "id_a long, id_b long")
    frame = frame if ps else frame.filter("id_a < 90")

    def run():
        cc = connected_components(frame, max_iter=max_iter)
        return cc.dtypes, sorted(tuple(r) for r in cc.collect())

    driver, distributed = _on_both_paths(run)
    assert driver == distributed
    if chain >= max_iter:
        assert driver == "raised"
    if driver != "raised":
        assert driver[1] == _union_find_labels(ps)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(p0=_cpairs, p1=_cpairs, p2=_cpairs, chain=_chain)
def test_cluster_merges_driver_matches_distributed(spark, p0, p1, p2, chain):
    import shutil
    import tempfile

    from pandas_aws_spark.operators.dedup import (
        _read_raw_cluster_labels,
        init_cluster_labels,
        merge_cluster_labels,
    )

    def frame(ps):
        d = spark.createDataFrame(ps or [(99, 98)], "id_a long, id_b long")
        return d.filter("id_a < 90") if not ps else d

    # the chain lands in the SECOND merge, where it may exceed max_iter
    batches = [frame(p0), frame(p1), frame(_with_chain(p2, chain))]

    def run():
        path = tempfile.mkdtemp(prefix="cc_paths_")
        try:
            init_cluster_labels(batches[0], path, max_iter=4)
            merge_cluster_labels(batches[1], path, batch_id="b1", max_iter=4)
            merge_cluster_labels(batches[2], path, batch_id="b2", max_iter=4)
            raw = _read_raw_cluster_labels(spark, path)
            return sorted(tuple(r) for r in raw.select("doc_id", "cluster_id", "seq").collect())
        finally:
            shutil.rmtree(path, ignore_errors=True)

    driver, distributed = _on_both_paths(run)
    assert driver == distributed


# --------------------------------------------------------------------------
# Token-budget mixture selection (r12): for ANY doc/token sets, the
# selection equals the greedy per-source prefix in hash-priority order
# computed INDEPENDENTLY in Python (its own md5 arithmetic), with the
# crossing doc landing.
# --------------------------------------------------------------------------
_doc = st.tuples(
    st.integers(min_value=1, max_value=60),   # doc_id
    st.integers(min_value=0, max_value=2),    # source index
    st.integers(min_value=1, max_value=500),  # n_tokens
)
_docs = st.lists(_doc, min_size=1, max_size=20, unique_by=lambda d: d[0])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_docs, budget=st.integers(min_value=1, max_value=3000))
def test_token_budget_selection_matches_python_greedy(spark, rows, budget):
    import hashlib

    from pyspark.sql import functions as F

    from pandas_aws_spark.operators.sampling import (
        sample_to_token_budget,
        temperature_rates,
    )

    data = [(i, f"s{s}", t) for i, s, t in rows]
    docs = spark.createDataFrame(data, "doc_id long, source string, n_tokens long")
    per_src = docs.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    rates = temperature_rates(per_src)
    got = sorted(
        tuple(r)
        for r in sample_to_token_budget(docs, rates, budget)
        .select("doc_id", "source", "n_tokens")
        .collect()
    )

    # independent mirror: floor-sqrt weights -> ppm rates -> quotas ->
    # greedy prefix per source in (md5-priority, id) order
    import math

    src_tokens: dict[str, int] = {}
    for _i, s, t in data:
        src_tokens[s] = src_tokens.get(s, 0) + t
    wgt = {s: int(math.isqrt(n)) for s, n in src_tokens.items()}
    tw = sum(wgt.values())
    rate = {s: (1_000_000 * w) // tw for s, w in wgt.items()}
    quota = {s: (budget * rate[s]) // 1_000_000 for s in rate}

    def pri(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16)

    want = []
    for s in src_tokens:
        cum = 0
        for i, _s, t in sorted(
            (d for d in data if d[1] == s), key=lambda d: (pri(d[0]), d[0])
        ):
            if cum < quota[s]:
                want.append((i, s, t))
            cum += t
    assert got == sorted(want)
