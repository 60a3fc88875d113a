"""Unit tests for dedup operators on hand-built fixtures (planted
duplicates with known relationships)."""

from __future__ import annotations

import pytest

from pandas_aws_spark.operators.dedup import (
    blocked_ngram_jaccard_pairs,
    drop_list_from_pairs,
    exact_dedup,
    minhash_near_dup_pairs,
    simhash16,
    simhash60,
    simhash_banded_near_dup_pairs,
    simhash_near_dup_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different words nothing shared here at all whatsoever in any way"


@pytest.fixture()
def docs(spark):
    rows = [(1, BASE, "en"), (2, NEAR, "en"), (3, OTHER, "en"), (4, BASE, "en")]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_min_id_survivor(spark, docs):
    out = {r.kept_id: r.n_copies for r in exact_dedup(docs, ["text"], "doc_id").collect()}
    assert out[1] == 2  # doc 4 is an exact copy of doc 1 -> survivor is min id
    assert out[2] == 1 and out[3] == 1
    assert 4 not in out


def test_exact_dedup_survivors_single_window_single_shuffle(spark, docs):
    """The survivor-keeping variant must plan ONE Window operator over
    ONE hash exchange (r15): pre-rewrite, the two ``over()`` calls each
    inlined their own md5 expression and Spark planned two Window
    operators with an Exchange between them — the first shuffle carried
    the text column solely so the second projection could re-hash it."""
    from pandas_aws_spark.operators.dedup import exact_dedup_survivors
    from pandas_aws_spark.plans.inspect import num_shuffles, physical_plan

    out = exact_dedup_survivors(docs, ["text"], "doc_id")
    assert num_shuffles(out) == 1
    assert physical_plan(out).count("Window") == 1
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # doc 4 is a copy of doc 1; min id survives
    assert rows[1].n_copies == 2 and rows[2].n_copies == 1 and rows[3].n_copies == 1
    assert rows[1].text == BASE and rows[1].lang == "en"  # survivors keep all columns


def test_per_doc_minhash_fuses_signatures_and_packs(spark, docs):
    """r15 batch 3: the fused per-doc aggregation must (a) plan ONE
    shuffle — signature minima and the verify pack ride the same
    groupBy(id) — and (b) produce values identical to the two-pass
    computation it replaced (minhash_signatures + a separate
    collect_list groupBy over the same shingle rows)."""
    from pandas_aws_spark.operators.dedup import (
        _per_doc_minhash,
        doc_shingle_hashes,
        minhash_signatures,
    )
    from pandas_aws_spark.plans.inspect import num_shuffles
    from pyspark.sql import functions as F

    sh = doc_shingle_hashes(docs, "doc_id", "text", 3, "affine")
    fused = _per_doc_minhash(sh, "doc_id", 8, sorted_packs=True)
    assert num_shuffles(fused) == 1
    got = {r.doc_id: r for r in fused.collect()}

    sig = {r.doc_id: r for r in minhash_signatures(sh, "doc_id", 8, "affine").collect()}
    packs = {
        r.doc_id: r.hs
        for r in sh.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .collect()
    }
    assert set(got) == set(sig) == set(packs) == {1, 2, 3, 4}
    for d in got:
        assert [got[d][f"h{j}"] for j in range(8)] == [sig[d][f"h{j}"] for j in range(8)]
        assert got[d].hs == packs[d]
    assert got[1].hs == got[4].hs  # exact copies share the pack


def test_minhash_finds_planted_near_dup(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # one-token edit
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_drop_list_one_hop_semantics(spark, docs):
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    drops = {r.doc_id: r.dup_of for r in drop_list_from_pairs(pairs).collect()}
    assert drops[4] == 1 and drops[2] == 1
    assert 1 not in drops and 3 not in drops  # smallest id survives


def test_simhash_identical_docs_same_signature(spark, docs):
    sigs = {r.doc_id: r.simhash for r in simhash16(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert len(sigs[1]) == 16 and set(sigs[1]) <= {"0", "1"}
    assert sigs[1] != sigs[3]


def test_simhash_near_dup_pairs(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(docs, "doc_id", "text").collect()}
    assert (1, 4) in pairs


def test_simhash60_identical_docs_same_signature(spark, docs):
    sigs = {r.doc_id: r.sig for r in simhash60(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]
    assert 0 <= sigs[1] < (1 << 60)


def test_simhash_banded_finds_planted_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in simhash_banded_near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact copy: Hamming 0
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_banded_pigeonhole_guard():
    """hamming_max >= bands would silently lose the capture guarantee —
    the operator must refuse (the assert fires before any Spark work,
    so no session is needed)."""
    with pytest.raises(AssertionError, match="pigeonhole"):
        simhash_banded_near_dup_pairs(None, "id", "text", hamming_max=4)


def test_blocked_ngram_respects_blocks(spark):
    rows = [(1, BASE, "en"), (2, BASE, "fr"), (3, BASE, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r.id_a, r.id_b)
        for r in blocked_ngram_jaccard_pairs(
            df, "doc_id", "text", ["lang"], threshold=0.9, lsh_fallback=True
        ).collect()
    }
    assert (1, 3) in pairs  # same block, identical text
    assert (1, 2) not in pairs  # identical text but different block


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Cluster labelling on each of its two paths: the driver path (the
    default for graphs within the edge cap) and the distributed label
    propagation (forced by a cap of 0)."""
    from pandas_aws_spark.operators import dedup

    if request.param == "distributed":
        monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 0)
    return request.param


def test_connected_components_transitive(spark, cc_path):
    """Chain a-b-c plus isolated pair d-e: labels must collapse to the
    min id of each component even though (a,c) never pair directly."""
    from pandas_aws_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_minhash_band_bucket_cap_drops_hot_buckets(spark):
    """Boilerplate guard: 12 identical docs create a degenerate LSH
    bucket; with max_band_bucket below that, the hot bucket is dropped
    and only the distinct near-pair survives candidate generation."""
    boiler = "the same boilerplate footer text repeated across many documents entirely"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    rows = [(i, boiler) for i in range(12)] + [(100, near_a), (101, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    capped = minhash_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, max_band_bucket=5
    )
    unc = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in unc and len(unc) > 1, "uncapped finds boilerplate pairs too"
    assert cap == {(100, 101)}, f"cap must drop the hot bucket, got {cap}"


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_blocked_ngram_sizes_aggregate_only_small_blocks(spark):
    """The exact branch's gram-set sizes are aggregated over the
    small-block docs only: in the optimized plan every ``n_g``
    Aggregate reads through the ``_blk_n <= cap`` filter, so docs routed
    to the LSH branch (whose packed verify carries its own sizes) are
    never counted twice. (The optimizer folds the ``n_a``/``n_b``
    renames into the Aggregate.)"""
    rows = [(i, f"{BASE} {i}", "en") for i in range(4)] + [(9, NEAR, "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = blocked_ngram_jaccard_pairs(
        df, "doc_id", "text", ["lang"], threshold=0.5, max_block_docs=2,
        lsh_fallback=True,
    )
    plan = pairs._jdf.queryExecution().optimizedPlan()
    sizes = [
        n for n in _plan_nodes(plan)
        if n.nodeName() == "Aggregate"
        and any(f" AS {c}#" in n.aggregateExpressions().toString() for c in ("n_a", "n_b"))
    ]
    assert len(sizes) == 2
    for agg in sizes:
        conds = [
            n.condition().toString() for n in _plan_nodes(agg) if n.nodeName() == "Filter"
        ]
        assert any("_blk_n" in c and "<= 2" in c for c in conds), conds


def test_connected_components_raises_on_nonconvergence(spark):
    """Min-label propagation advances one hop per round; a chain longer
    than max_iter must raise instead of returning wrong cluster ids."""
    import pytest

    from pandas_aws_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # enough rounds: the same chain converges to a single cluster
    labels = connected_components(chain, max_iter=10)
    assert {r["cluster_id"] for r in labels.collect()} == {0}


def test_simhash_corpus_cap_guard(spark, docs, monkeypatch):
    """The LEGACY 16-bit path keeps its fail-fast backstop: past
    MAX_SIMHASH16_DOCS its signature space saturates and collision
    pairs grow quadratically regardless of content — the in-plan
    assert must fail with the banded-signature/LSH pointer. (The
    registry query q_dedup_simhash now runs the banded 60-bit path,
    which has no corpus cap to trip.)"""
    import pytest

    from pandas_aws_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "MAX_SIMHASH16_DOCS", 3)
    df = dd.simhash_near_dup_pairs(docs, "doc_id", "text")
    with pytest.raises(Exception, match="MAX_SIMHASH16_DOCS"):
        df.collect()


def test_blocked_ngram_block_cap_guard(spark, sf_dir, monkeypatch):
    """'Quadratic only within a block' is a promise about block size —
    an oversized block must produce a clean capped error, not an
    unbounded all-pairs join (the 10x measurement never finished)."""
    import pytest

    from pandas_aws_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "MAX_BLOCK_DOCS", 3)
    rows = [(i, BASE, "en") for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df = dd.blocked_ngram_jaccard_pairs(
        docs, "doc_id", "text", ["lang"], lsh_fallback=False
    )
    with pytest.raises(Exception, match="MAX_BLOCK_DOCS"):
        df.collect()


def test_blocked_ngram_lsh_fallback_routes_oversized_blocks(spark):
    """With lsh_fallback=True (the default), an oversized block is
    routed through MinHash-LSH candidates instead of failing — and the
    planted duplicates inside it are still found with exact jaccard.
    The small block runs the exact branch in the same call."""
    rows = (
        [(i, BASE, "en") for i in range(1, 6)]  # en: 5 docs, over the cap
        + [(10, NEAR, "en")]
        + [(20, BASE, "fr"), (21, BASE, "fr")]  # fr: 2 docs, exact branch
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in blocked_ngram_jaccard_pairs(
            docs, "doc_id", "text", ["lang"], threshold=0.5, max_block_docs=3, lsh_fallback=True
        ).collect()
    }
    # LSH branch: identical docs always collide (identical signatures)
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0
    # LSH branch: the one-token edit shares 7/8 minhash slots -> found
    assert (1, 10) in pairs and pairs[(1, 10)] > 0.5
    # exact branch still runs for the small block
    assert pairs[(20, 21)] == 1.0
    # no cross-block pair, ever
    assert all(not (a < 20 <= b or a >= 20 > b) for a, b in pairs)


# --------------------------------------------------------------------------
# Persisted dedup index (build / write / append / indexed search)
# --------------------------------------------------------------------------


def test_dedup_index_roundtrip_append_search(spark, tmp_path):
    """Full index lifecycle: batch 1 matches the stored corpus; after
    append, batch 2 matches both the corpus doc AND the appended
    batch-1 doc — proving the append extends the searchable index."""
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        indexed_near_dup_pairs,
        read_dedup_index,
        write_dedup_index,
    )

    corpus = spark.createDataFrame([(1, BASE), (3, OTHER)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)
    idx = read_dedup_index(spark, path)
    batch1 = spark.createDataFrame([(10, NEAR)], "doc_id long, text string")
    p1 = {
        (r.id_a, r.id_b)
        for r in indexed_near_dup_pairs(batch1, idx, "text", threshold=0.5).collect()
    }
    assert p1 == {(10, 1)}
    append_dedup_index(build_dedup_index(batch1, "doc_id", "text"), path, batch_id="b1")
    idx2 = read_dedup_index(spark, path)
    batch2 = spark.createDataFrame([(20, NEAR)], "doc_id long, text string")
    p2 = {
        (r.id_a, r.id_b)
        for r in indexed_near_dup_pairs(batch2, idx2, "text", threshold=0.5).collect()
    }
    assert p2 == {(20, 1), (20, 10)}


def test_indexed_search_plan_reads_only_the_index(spark, tmp_path):
    """The deployment contract: a second ingest's plan scans the INDEX
    parquet only — the accumulated corpus's text parquet appears
    nowhere (per-ingest scan cost is O(batch), not O(corpus))."""
    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        indexed_near_dup_pairs,
        read_dedup_index,
        write_dedup_index,
    )
    from pandas_aws_spark.plans.inspect import scans

    corpus_path = str(tmp_path / "corpus_text.parquet")
    spark.createDataFrame(
        [(1, BASE), (3, OTHER)], "doc_id long, text string"
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    idx_path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), idx_path)
    idx = read_dedup_index(spark, idx_path)
    batch = spark.createDataFrame([(10, NEAR)], "doc_id long, text string")
    plan_scans = scans(indexed_near_dup_pairs(batch, idx, "text"))
    locations = [s.location for s in plan_scans if s.location]
    assert locations, "expected file scans for the index side"
    assert all("corpus_text" not in loc for loc in locations), (
        f"corpus text scanned by the indexed search: {locations}"
    )
    assert any("idx" in loc for loc in locations)


def test_append_dedup_index_retry_after_partial_write_is_idempotent(spark, tmp_path):
    """Crash-consistency contract (r7 ADVICE): a failure between the
    two per-batch writes leaves an orphan pack subdirectory, which (a)
    never surfaces candidates (postings drive the join) and (b) is
    healed by retrying the SAME batch_id — the retry overwrites the
    batch's subdirectories, so the final index is byte-equivalent to a
    clean append: no duplicated pairs, no missed matches."""
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        indexed_near_dup_pairs,
        read_dedup_index,
        write_dedup_index,
    )

    corpus = spark.createDataFrame([(1, BASE), (3, OTHER)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)
    batch1 = spark.createDataFrame([(10, NEAR)], "doc_id long, text string")

    # Simulated crash: packs landed (written FIRST by contract),
    # postings did not.
    partial = build_dedup_index(batch1, "doc_id", "text")
    from pandas_aws_spark.operators.genstore import current_root

    root = current_root(spark, path)
    partial.packs.write.mode("overwrite").parquet(f"{root}/packs/batch=b1")

    # The half-written batch is invisible to searches (orphan packs
    # are inert): batch 2 sees only the corpus doc.
    probe = spark.createDataFrame([(20, NEAR)], "doc_id long, text string")
    mid = read_dedup_index(spark, path)
    seen = {
        (r.id_a, r.id_b)
        for r in indexed_near_dup_pairs(probe, mid, "text", threshold=0.5).collect()
    }
    assert seen == {(20, 1)}

    # Retry of the same batch id converges to the clean-append state.
    append_dedup_index(build_dedup_index(batch1, "doc_id", "text"), path, batch_id="b1")
    idx = read_dedup_index(spark, path)
    rows = indexed_near_dup_pairs(probe, idx, "text", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(20, 1), (20, 10)}
    assert len(rows) == 2, f"duplicate verify rows after retry: {rows}"


def test_append_dedup_index_rejects_reserved_base_id(spark, tmp_path):
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        write_dedup_index,
    )

    corpus = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)
    delta = build_dedup_index(
        spark.createDataFrame([(10, NEAR)], "doc_id long, text string"),
        "doc_id",
        "text",
    )
    with pytest.raises(ValueError, match="reserved"):
        append_dedup_index(delta, path, batch_id="base")


def test_append_dedup_index_recipe_mismatch_raises(spark, tmp_path):
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        write_dedup_index,
    )

    corpus = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)
    delta = build_dedup_index(
        spark.createDataFrame([(10, NEAR)], "doc_id long, text string"),
        "doc_id",
        "text",
        shingle_k=4,
    )
    with pytest.raises(ValueError, match="recipe mismatch"):
        append_dedup_index(delta, path, batch_id="b1")


def test_cluster_best_keeps_highest_quality_member(spark):
    """Survivor selection is argmax(score) per cluster with id
    tie-break — not min-id: the longest member of the planted cluster
    must win even though it has the largest id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pandas_aws_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.85)],
        "id_a long, id_b long, jaccard double",
    )
    scores = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (10, 50), (11, 40)],
        "doc_id long, n_chars long",
    )
    cc = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    best = (
        cc.join(scores, "doc_id")
        .withColumn(
            "rn", F.row_number().over(w.orderBy(F.desc("n_chars"), F.col("doc_id")))
        )
        .filter(F.col("rn") == 1)
    )
    got = {r.cluster_id: r.doc_id for r in best.collect()}
    # cluster {1,2,3}: 2 and 3 tie on length -> lower id 2 wins, not min-id 1
    assert got == {1: 2, 10: 10}


# --------------------------------------------------------------------------
# Incremental duplicate-cluster maintenance (r12): persisted labels +
# union-merge of touched components only.
# --------------------------------------------------------------------------


def _cluster_fixture(spark, tmp_path):
    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        init_cluster_labels,
        write_dedup_index,
    )

    path = str(tmp_path / "didx")
    corpus = spark.createDataFrame(
        [(i, f"filler text body number {i} with words") for i in range(1, 40)],
        "doc_id long, text string",
    )
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)
    p0 = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    init_cluster_labels(p0, path)
    return path, p0


def _labels(spark, path):
    from pandas_aws_spark.operators.dedup import read_cluster_labels

    return sorted(tuple(r) for r in read_cluster_labels(spark, path).collect())


def test_incremental_cluster_merge_matches_scratch_cc(spark, tmp_path):
    """Two staged merges == from-scratch connected_components over the
    union pair graph — incremental maintenance is exact, including a
    new doc transitively fusing two existing clusters."""
    from pandas_aws_spark.operators.dedup import (
        connected_components,
        merge_cluster_labels,
    )

    path, p0 = _cluster_fixture(spark, tmp_path)
    p1 = spark.createDataFrame(
        [(20, 3), (20, 7), (21, 22), (30, 9)], "id_a long, id_b long"
    )
    merge_cluster_labels(p1, path, batch_id="b1")
    union1 = p0.unionByName(p1)
    assert _labels(spark, path) == sorted(
        tuple(r) for r in connected_components(union1).collect()
    )
    p2 = spark.createDataFrame([(22, 1)], "id_a long, id_b long")
    merge_cluster_labels(p2, path, batch_id="b2")
    assert _labels(spark, path) == sorted(
        tuple(r) for r in connected_components(union1.unionByName(p2)).collect()
    )


def test_incremental_cluster_merge_retry_idempotent(spark, tmp_path, cc_path):
    """Re-running a merge with the same batch_id overwrites its own
    delta and converges — the crash-retry discipline every artifact op
    here shares (the delta is derived EXCLUDING the writing batch)."""
    from pandas_aws_spark.operators.dedup import merge_cluster_labels

    path, _ = _cluster_fixture(spark, tmp_path)
    p1 = spark.createDataFrame([(20, 3), (20, 7)], "id_a long, id_b long")
    merge_cluster_labels(p1, path, batch_id="b1")
    want = _labels(spark, path)
    merge_cluster_labels(p1, path, batch_id="b1")
    assert _labels(spark, path) == want


def test_incremental_cluster_merge_empty_and_reserved(spark, tmp_path):
    from pandas_aws_spark.operators.dedup import merge_cluster_labels

    path, _ = _cluster_fixture(spark, tmp_path)
    before = _labels(spark, path)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    merge_cluster_labels(empty, path, batch_id="b1")
    assert _labels(spark, path) == before
    with pytest.raises(ValueError, match="reserved"):
        merge_cluster_labels(empty, path, batch_id="base")


def test_incremental_cluster_touched_only_delta(spark, tmp_path):
    """The written delta covers ONLY endpoints and members of clusters
    whose label changed — untouched clusters' rows are never
    rewritten, and the stored labels are probed with broadcast joins,
    never shuffled (no SortMergeJoin/ShuffledHashJoin anywhere in the
    delta plan)."""
    import os

    from pandas_aws_spark.operators.dedup import (
        _cluster_merge_delta,
        _read_raw_cluster_labels,
        merge_cluster_labels,
    )

    from pyspark.sql import functions as F

    path, _ = _cluster_fixture(spark, tmp_path)
    # merge touching ONLY cluster {7,8}: doc 50 joins it
    p1 = spark.createDataFrame([(50, 8)], "id_a long, id_b long")
    pairs = (
        p1.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    raw = _read_raw_cluster_labels(spark, path, exclude_batch="b1")
    delta, seq = _cluster_merge_delta(pairs, raw, max_iter=20)
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    rows = {tuple(r) for r in delta.collect()}
    # only the new endpoint needs a row: 8's label (7) is unchanged
    assert rows == {(50, 7)}
    assert seq == 2
    merge_cluster_labels(p1, path, batch_id="b1")
    from pandas_aws_spark.operators import genstore

    root = genstore.current_root(spark, path)
    written = spark.read.parquet(f"{root}/clusters/batch=b1")
    assert {tuple(r) for r in written.select("doc_id", "cluster_id").collect()} == rows
    # labels are generation-resident since r13 (beside packs/buckets)
    assert root != path and os.path.isdir(f"{root}/clusters/batch=base")
    assert not os.path.isdir(f"{path}/clusters")


def test_read_cluster_labels_excludes_tombstoned_docs(spark, tmp_path):
    """Live-docs-only contract: labels of deleted docs disappear from
    read_cluster_labels, same as the index read paths."""
    from pandas_aws_spark.operators.dedup import delete_from_dedup_index

    path, _ = _cluster_fixture(spark, tmp_path)
    before = dict(_labels(spark, path))
    assert 3 in before
    delete_from_dedup_index(
        spark.createDataFrame([(3,)], "doc_id long"), path, batch_id="t1"
    )
    after = dict(_labels(spark, path))
    assert 3 not in after and set(before) - set(after) == {3}


def test_stream_dedup_ingest_boundary_invariant_clusters(spark, tmp_path):
    """Streaming ingest with a DIFFERENT micro-batch split than the
    registered entry (1 file per trigger -> 4 micro-batches vs the
    entry's 2) must land on the same cluster labels as a from-scratch
    connected-components run over the whole corpus's pair graph —
    label maintenance is invariant to where the file-to-trigger
    boundaries fall, because a cross-batch near-dup pair is caught by
    the later batch's index probe and a same-batch pair by its
    internal scan."""
    from pyspark.sql import functions as F

    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        connected_components,
        init_cluster_labels,
        read_cluster_labels,
        read_dedup_index,
        write_dedup_index,
    )
    from pandas_aws_spark.streaming.pipeline import stream_dedup_ingest

    recipe = dict(shingle_k=3, n_hashes=8, bands=4)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    rest = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text", **recipe), path)
    init_cluster_labels(
        minhash_near_dup_pairs(corpus, "doc_id", "text", threshold=0.8, **recipe),
        path,
    )
    landing = str(tmp_path / "landing")
    rest.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    stream_dedup_ingest(
        stream, path, str(tmp_path / "ckpt"), threshold=0.8, maintain_clusters=True
    )

    got = sorted(tuple(r) for r in read_cluster_labels(spark, path).collect())
    want = sorted(
        tuple(r)
        for r in connected_components(
            minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.8, **recipe)
        ).collect()
    )
    assert got == want

    # every streamed doc was appended to the index exactly once
    assert read_dedup_index(spark, path).packs.count() == docs.count()


def test_cluster_labels_survive_tombstoned_label_doc(spark, tmp_path):
    """Contract pin: cluster_id is an opaque STABLE identifier, not
    'min live id' — tombstoning the doc whose id IS a cluster's label
    drops that doc's row from read_cluster_labels (live-docs-only) but
    the surviving members keep the old label value. Rationale: labels
    only ever decrease on merge, so relabeling on delete would break
    the monotonicity the incremental merge's member-probe soundness
    argument rests on (operators/dedup.py label-invariant comment)."""
    from pandas_aws_spark.operators.dedup import delete_from_dedup_index

    path, p0 = _cluster_fixture(spark, tmp_path)
    # p0 clusters: {1,2,3} labeled 1, {7,8} labeled 7
    before = dict(_labels(spark, path))
    assert before[2] == 1 and before[3] == 1
    ids = spark.createDataFrame([(1,)], "doc_id long")
    delete_from_dedup_index(ids, path, batch_id="t1")
    after = dict(_labels(spark, path))
    assert 1 not in after, "tombstoned doc must leave the label table"
    assert after[2] == 1 and after[3] == 1, "survivors keep the stable label"
    assert after[7] == 7 and after[8] == 7


def test_dedup_snapshot_read_time_travel(spark, tmp_path):
    """Dedup-index twin of the ANN snapshot test (shared genstore
    protocol): retain_generations=2 keeps the pre-compaction
    generation servable via read_dedup_index(generation=N), and since
    r13 the cluster labels are generation-resident too —
    read_cluster_labels(generation=N) serves the label view CONSISTENT
    with that index snapshot (frozen deltas, frozen ledger), while the
    current view moves on with post-compaction merges."""
    from pandas_aws_spark.operators import genstore
    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        compact_dedup_index,
        init_cluster_labels,
        merge_cluster_labels,
        read_cluster_labels,
        read_dedup_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text"), path)  # gen 1
    n1 = read_dedup_index(spark, path).packs.count()
    p0 = spark.createDataFrame([(1, 2), (2, 3), (7, 11)], "id_a long, id_b long")
    init_cluster_labels(p0, path)
    labels_v1 = sorted(tuple(r) for r in read_cluster_labels(spark, path).collect())

    compact_dedup_index(spark, path, retain_generations=2)  # gen 2
    from pandas_aws_spark.operators.dedup import append_dedup_index

    append_dedup_index(
        build_dedup_index(batch, "doc_id", "text"), path, batch_id="b1"
    )
    # post-compaction merge fuses {1,2,3} with {7,11} via new doc 100
    merge_cluster_labels(
        spark.createDataFrame([(100, 3), (100, 7)], "id_a long, id_b long"),
        path,
        batch_id="b1",
    )
    assert read_dedup_index(spark, path).packs.count() == docs.count()
    assert read_dedup_index(spark, path, generation=1).packs.count() == n1

    # snapshot labels: gen 1 view is frozen at the bootstrap state;
    # gen 2 (current) reflects the post-compaction merge
    snap = sorted(
        tuple(r)
        for r in read_cluster_labels(spark, path, generation=1).collect()
    )
    assert snap == labels_v1
    cur = dict(_labels(spark, path))
    assert cur[7] == 1 and cur[11] == 1 and cur[100] == 1
    assert dict(labels_v1)[7] == 7

    with pytest.raises(ValueError, match="not a committed generation"):
        read_cluster_labels(spark, path, generation=9)


def test_compaction_folds_cluster_labels_and_migrates_legacy(spark, tmp_path):
    """(r13) A base rewrite folds the cluster-label delta history into
    one generation-resident clusters/batch=base: read-before equals
    read-after, exactly one batch dir remains, net-tombstoned docs are
    physically dropped (their exclusion carried), and a pre-r13 legacy
    flat {path}/clusters dir is migrated into the generation store —
    after which snapshot label reads work."""
    import os

    from pandas_aws_spark.operators import genstore
    from pandas_aws_spark.operators.dedup import (
        compact_dedup_index,
        delete_from_dedup_index,
        merge_cluster_labels,
        read_cluster_labels,
    )

    path, _ = _cluster_fixture(spark, tmp_path)
    merge_cluster_labels(
        spark.createDataFrame([(20, 3), (21, 22)], "id_a long, id_b long"),
        path,
        batch_id="m1",
    )
    delete_from_dedup_index(
        spark.createDataFrame([(8,)], "doc_id long"), path, batch_id="t1"
    )

    # simulate the pre-r13 layout: labels flat beside the generations
    root1 = genstore.current_root(spark, path)
    os.rename(f"{root1}/clusters", f"{path}/clusters")
    before = _labels(spark, path)  # legacy fallback read
    assert 8 not in dict(before)
    with pytest.raises(ValueError, match="legacy flat-layout"):
        read_cluster_labels(spark, path, generation=1)
    # merges keep landing in the legacy dir — never split across both
    merge_cluster_labels(
        spark.createDataFrame([(30, 31)], "id_a long, id_b long"),
        path,
        batch_id="m2",
    )
    assert os.path.isdir(f"{path}/clusters/batch=m2")
    assert not os.path.isdir(f"{root1}/clusters")
    before = _labels(spark, path)

    compact_dedup_index(spark, path)
    root2 = genstore.current_root(spark, path)
    assert root2 != root1
    assert _labels(spark, path) == before, "fold preserves the label view"
    assert not os.path.isdir(f"{path}/clusters"), "legacy dir migrated"
    batches = [
        d for d in os.listdir(f"{root2}/clusters") if d.startswith("batch=")
    ]
    assert batches == ["batch=base"], "delta history collapsed"
    # physically dropped AND still excluded (exclusion carried forward)
    folded = spark.read.parquet(f"{root2}/clusters")
    assert folded.filter("doc_id = 8").count() == 0
    assert sorted(
        tuple(r)
        for r in read_cluster_labels(spark, path, generation=2).collect()
    ) == before


def test_pathological_merge_bridges_many_clusters(spark, tmp_path):
    """(r13, verdict ask #7) Worst-case label churn: ONE new hub doc
    bridges K existing clusters in a single merge. Correctness: the
    incremental labels still equal a from-scratch CC over the union
    pair graph. Economics: the written delta is exactly the touched
    set — every member of the K-1 relabeled clusters plus the new
    endpoints — and the rep-graph CC ran over K reps + 1 hub, never
    over the corpus; untouched clusters contribute zero delta rows."""
    from pandas_aws_spark.operators import genstore
    from pandas_aws_spark.operators.dedup import (
        connected_components,
        init_cluster_labels,
        merge_cluster_labels,
    )

    K, S, UNTOUCHED = 40, 5, 30
    groups = []
    for g in range(K + UNTOUCHED):
        base = 1000 * (g + 1)
        groups.append([base + i for i in range(S)])
    p0 = spark.createDataFrame(
        [(m[0], x) for m in groups for x in m[1:]], "id_a long, id_b long"
    )
    path = str(tmp_path / "labels")
    init_cluster_labels(p0, path)

    hub = 7
    p1 = spark.createDataFrame(
        [(hub, groups[g][0]) for g in range(K)], "id_a long, id_b long"
    )
    merge_cluster_labels(p1, path, batch_id="b1")

    got = sorted(tuple(r) for r in _labels_raw(spark, path))
    want = sorted(
        tuple(r) for r in connected_components(p0.unionByName(p1)).collect()
    )
    assert got == want
    # delta accounting: hub + all K*S members of the bridged clusters
    # relabel (their labels all exceed the hub's id 7, the new min);
    # untouched clusters write NOTHING
    root = genstore.current_root(spark, path)
    delta = spark.read.parquet(f"{root}/clusters/batch=b1")
    assert delta.count() == K * S + 1
    touched_ids = {hub} | {x for g in range(K) for x in groups[g]}
    assert {r.doc_id for r in delta.collect()} == touched_ids


def _labels_raw(spark, path):
    """Label fold WITHOUT the index-artifact tombstone step — for
    label-only artifacts (no params/index data), as the pathological
    merge fixture uses."""
    from pyspark.sql import functions as F

    from pandas_aws_spark.operators.dedup import _read_raw_cluster_labels

    raw = _read_raw_cluster_labels(spark, path)
    return (
        raw.groupBy("doc_id")
        .agg(F.max_by("cluster_id", "seq").alias("cluster_id"))
        .collect()
    )


def test_cluster_label_batches_are_single_files(spark, tmp_path):
    """Label batches written from driver rows land as ONE parquet file
    each (bootstrap and merge delta), so small label deltas do not
    multiply the artifact's file count."""
    import glob

    from pandas_aws_spark.operators import genstore
    from pandas_aws_spark.operators.dedup import merge_cluster_labels

    path, _ = _cluster_fixture(spark, tmp_path)
    root = genstore.current_root(spark, path)
    assert len(glob.glob(f"{root}/clusters/batch=base/*.parquet")) == 1
    merge_cluster_labels(
        spark.createDataFrame([(20, 3), (20, 7), (0, 8)], "id_a long, id_b long"),
        path,
        batch_id="b1",
    )
    assert len(glob.glob(f"{root}/clusters/batch=base/*.parquet")) == 1
    assert len(glob.glob(f"{root}/clusters/batch=b1/*.parquet")) == 1


def _spark_jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs: its calls are tagged with a fresh
    job group, the listener bus is drained, and the group's jobs are
    read from the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cluster_label_job_budgets(spark, sf_dir, tmp_path):
    """Per-call Spark job budgets of the label artifact ops at sf0.001
    on their driver path. The inputs are pinned in executor storage
    first, so only the label op's own jobs count; one more driver
    round trip (a ``.count()``) in either op fails this test."""
    from pyspark.sql import functions as F

    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        index_batch_near_dup_pairs,
        index_self_near_dup_pairs,
        init_cluster_labels,
        merge_cluster_labels,
        read_dedup_index,
        write_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "idx")
    write_dedup_index(
        build_dedup_index(docs.filter(F.col("doc_id") % 4 != 0), "doc_id", "text"), path
    )
    stored = read_dedup_index(spark, path)
    p0 = index_self_near_dup_pairs(stored).select("id_a", "id_b").localCheckpoint()
    delta = build_dedup_index(docs.filter(F.col("doc_id") % 4 == 0), "doc_id", "text")
    p1 = (
        index_batch_near_dup_pairs(delta, stored)
        .select("id_a", "id_b")
        # a bridge from a new min id: the changed-members probe runs too
        .unionByName(p0.limit(2).select(F.lit(-1).cast("long").alias("id_a"), "id_b"))
        .localCheckpoint()
    )
    assert p0.count() > 0 and p1.count() > 2
    assert _spark_jobs(spark, lambda: init_cluster_labels(p0, path)) <= 3
    assert _spark_jobs(
        spark, lambda: merge_cluster_labels(p1, path, batch_id="b1")
    ) <= 9


def test_cluster_labels_compose_with_vacuum_and_repeat_compaction(spark, tmp_path):
    """(r14, r13 verdict ask #6) vacuum_generations composes with the
    generation-resident cluster labels: a vacuumed generation's LABEL
    read fails with the same clear committed-history error as its
    index read (never a raw FileNotFound), a retained snapshot keeps
    serving both views, and carry_labels folding survives BACK-TO-BACK
    compactions — the fold of a fold still equals a from-scratch
    connected-components run over the union pair graph."""
    from pandas_aws_spark.operators import genstore
    from pandas_aws_spark.operators.dedup import (
        compact_dedup_index,
        connected_components,
        merge_cluster_labels,
        read_cluster_labels,
        read_dedup_index,
    )

    path, p0 = _cluster_fixture(spark, tmp_path)  # gen 1 + init labels
    p1 = spark.createDataFrame(
        [(20, 3), (20, 7), (21, 22)], "id_a long, id_b long"
    )
    merge_cluster_labels(p1, path, batch_id="b1")
    compact_dedup_index(spark, path, retain_generations=3)  # gen 2: folds deltas
    p2 = spark.createDataFrame([(22, 1)], "id_a long, id_b long")
    merge_cluster_labels(p2, path, batch_id="b2")
    compact_dedup_index(spark, path, retain_generations=3)  # gen 3: folds the fold

    want = sorted(
        tuple(r)
        for r in connected_components(p0.unionByName(p1).unionByName(p2)).collect()
    )
    assert _labels(spark, path) == want, "fold-of-a-fold drifted from scratch CC"

    # vacuum the oldest retained generation: BOTH reads of it must fail
    # with the committed-history error, and the retained snapshot keeps
    # serving a label view consistent with its index view
    deleted = genstore.vacuum_generations(spark, path, retain=2)
    assert 1 in deleted
    with pytest.raises(ValueError, match="committed history"):
        read_dedup_index(spark, path, generation=1)
    with pytest.raises(ValueError, match="committed history"):
        read_cluster_labels(spark, path, generation=1)
    g2 = sorted(
        tuple(r) for r in read_cluster_labels(spark, path, generation=2).collect()
    )
    assert g2 == want  # b2's delta landed in gen 2's dir before gen 3 froze it
    assert read_dedup_index(spark, path, generation=2).packs.count() > 0


def test_index_pair_helpers_match_reshingle_pipelines(spark, tmp_path):
    """r16: `index_self_near_dup_pairs` / `index_cross_near_dup_pairs`
    compute pairs from index FRAMES instead of re-shingling the
    documents — the pair sets AND the jaccard doubles must equal the
    re-shingle pipelines exactly (sorted vs unsorted packs is the only
    difference, and packed jaccard is order-insensitive)."""
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        index_cross_near_dup_pairs,
        index_self_near_dup_pairs,
        indexed_near_dup_pairs,
        minhash_near_dup_pairs,
        read_dedup_index,
        release_cached_inputs,
        write_dedup_index,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 8 == 0)
    recipe = dict(shingle_k=3, n_hashes=8, bands=4)
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text", **recipe), path)
    stored = read_dedup_index(spark, path)

    def rows(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())

    got_self = rows(index_self_near_dup_pairs(stored, threshold=0.8))
    want_self_df = minhash_near_dup_pairs(corpus, "doc_id", "text", threshold=0.8, **recipe)
    want_self = rows(want_self_df)
    release_cached_inputs(want_self_df)
    assert got_self == want_self and got_self  # non-vacuous: pairs exist

    delta = build_dedup_index(batch, "doc_id", "text", **recipe)
    got_cross = rows(index_cross_near_dup_pairs(delta, stored, threshold=0.8))
    want_cross_df = indexed_near_dup_pairs(batch, stored, "text", threshold=0.8)
    want_cross = rows(want_cross_df)
    release_cached_inputs(want_cross_df)
    assert got_cross == want_cross and got_cross
    # recipe pinning: a mismatched delta is rejected before any scan
    bad = build_dedup_index(batch, "doc_id", "text", shingle_k=4, n_hashes=8, bands=4)
    with pytest.raises(ValueError, match="recipe mismatch"):
        index_cross_near_dup_pairs(bad, stored, threshold=0.8)
    bad.release_cache()
    append_dedup_index(delta, path, batch_id="b1")  # releases delta's cache


def test_index_batch_pairs_match_cross_union_self(spark, tmp_path):
    """r16 batch 2: `index_batch_near_dup_pairs` (one fused candidate
    join + one verify pass) must equal `index_cross_near_dup_pairs(
    delta, index) UNION index_self_near_dup_pairs(delta)` pair-for-pair
    including the jaccard doubles — it is the ingest loops' pair source
    (cluster entries + stream_dedup_ingest), so any drift here is a
    label drift."""
    from pandas_aws_spark.operators.dedup import (
        build_dedup_index,
        index_batch_near_dup_pairs,
        index_cross_near_dup_pairs,
        index_self_near_dup_pairs,
        read_dedup_index,
        write_dedup_index,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 8 == 0)
    recipe = dict(shingle_k=3, n_hashes=8, bands=4)
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text", **recipe), path)
    stored = read_dedup_index(spark, path)
    delta = build_dedup_index(batch, "doc_id", "text", **recipe)

    def rows(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())

    got = rows(index_batch_near_dup_pairs(delta, stored, threshold=0.8))
    want = sorted(
        rows(index_cross_near_dup_pairs(delta, stored, threshold=0.8))
        + rows(index_self_near_dup_pairs(delta, threshold=0.8))
    )
    assert got == want and got  # non-vacuous: pairs exist
    # the cross and self contributions are both present (non-vacuous
    # fusion: at least one pair from each side of the union)
    batch_ids = {r[0] for r in rows(index_self_near_dup_pairs(delta, threshold=0.8))}
    assert batch_ids  # internal pairs exist in this split
    # recipe pinning mirrors the composed operators
    bad = build_dedup_index(batch, "doc_id", "text", shingle_k=4, n_hashes=8, bands=4)
    with pytest.raises(ValueError, match="recipe mismatch"):
        index_batch_near_dup_pairs(bad, stored, threshold=0.8)
    bad.release_cache()
    delta.release_cache()


def test_index_batch_pairs_replay_matches_clean_run(spark, sf_dir, tmp_path):
    """A foreachBatch replay after a crash between the label merge and
    the append runs the pair pass again against an index that already
    holds the batch. The pass must return exactly the clean run's rows:
    no ``(x, x)`` self pairs, no reversed copies of batch-internal
    pairs, no doubled rows from a second pack per id."""
    from pandas_aws_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        index_batch_near_dup_pairs,
        read_dedup_index,
        write_dedup_index,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 8 == 0)
    recipe = dict(shingle_k=3, n_hashes=8, bands=4)
    path = str(tmp_path / "idx")
    write_dedup_index(build_dedup_index(corpus, "doc_id", "text", **recipe), path)

    def rows(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())

    delta = build_dedup_index(batch, "doc_id", "text", **recipe)
    clean = rows(index_batch_near_dup_pairs(delta, read_dedup_index(spark, path)))
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    # non-vacuous: both batch-internal and batch-vs-index pairs exist
    assert any(b in batch_ids for _, b, _ in clean)
    assert any(b not in batch_ids for _, b, _ in clean)
    append_dedup_index(delta, path, batch_id="b1")  # the crashed attempt's append

    replay_delta = build_dedup_index(batch, "doc_id", "text", **recipe)
    replay = rows(
        index_batch_near_dup_pairs(replay_delta, read_dedup_index(spark, path))
    )
    replay_delta.release_cache()
    assert replay == clean
