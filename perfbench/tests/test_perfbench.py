"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The end-to-end tests run the single command on shrunken inputs
(``--scale 0.1``, about the sf0.001 test tier), so each takes a JVM
start and a cold Spark pass: a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import run  # noqa: E402
from spans import covered_ms  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, seed: int, trace: int, cwd: str = REPO) -> tuple[dict, dict]:
    cmd = _spec()["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--scale", "0.1",
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


# -- pure helpers ------------------------------------------------------------


def test_covered_ms_merges_and_clips():
    assert covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert covered_ms([(0, 10), (5, 20)], 8, 15) == 7
    assert covered_ms([], 0, 100) == 0


def test_tail_needs_ten_beyond():
    assert run.tail([1.0] * 10) == (None, None)
    pct, value = run.tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0


def test_kind_p50_weighs_each_op_type_once():
    recs = [("read", "a", s, True) for s in (1.0, 1.0, 9.0)]
    recs += [("read", "b", 3.0, True), ("write", "c", 100.0, True)]
    assert run.kind_p50(recs, "read") == 2.0


def test_components_min_label():
    from workloads import components

    assert components([(3, 1), (4, 3), (7, 8)]) == {1: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_exact_topk_excludes_self():
    from workloads import exact_topk

    vecs = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]])
    got = exact_topk(vecs, np.array([10, 11, 12, 13]), [10, 12], 1)
    assert got == {10: {11}, 12: {13}}


def test_inputs_repeat_per_seed(tmp_path):
    from inputs import make_inputs

    a = make_inputs(5, str(tmp_path / "a"), "index_lifecycle", 0.1)
    b = make_inputs(5, str(tmp_path / "b"), "index_lifecycle", 0.1)
    c = make_inputs(6, str(tmp_path / "c"), "index_lifecycle", 0.1)
    assert a.ann.batches == b.ann.batches and a.dedup.searches == b.dedup.searches
    assert a.tables["documents"].equals(b.tables["documents"])
    assert a.ann.batches != c.ann.batches


def test_benchmark_json_matches_the_command():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == ["scan_io", "index_lifecycle"]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert len(spec["per_layer"]) <= 128


# -- the command, end to end -------------------------------------------------


@pytest.fixture(scope="module")
def traced_runs():
    return {
        "scan_io": _run("scan_io", 3, 1),
        "index_lifecycle": [_run("index_lifecycle", 3, 1), _run("index_lifecycle", 3, 1)],
    }


@pytest.mark.parametrize("workload", ["scan_io", "index_lifecycle"])
def test_smoke_timed_run(workload):
    report, result = _run(workload, 1, 0)
    spec = _spec()
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["failed_op_ratio"] == 0.0
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["env"]["spark_master"] == "local[4]"
    assert report["env"]["driver_memory"] == run.DRIVER_MEM
    assert not os.path.exists(os.path.join(REPO, ".perfbench_run"))


def test_traced_run_reports_every_layer_metric(traced_runs):
    names = [n for n, _ in run.per_layer_names()]
    for res in (traced_runs["scan_io"], *traced_runs["index_lifecycle"]):
        report, result = res
        assert result["correct"]
        assert list(result["metrics"]) == names
    m = traced_runs["scan_io"][1]["metrics"]
    assert m["queries.execute.spark_jobs"]["value"] > 0
    assert m["objectstore.write_df.output_bytes"]["value"] > 0
    assert m["operators.dedup.merge_cluster_labels.calls"]["value"] == 0


def test_span_job_counts_repeat_for_one_seed(traced_runs):
    (rep_a, a), (rep_b, b) = traced_runs["index_lifecycle"]
    jobs = {k: v["value"] for k, v in a["metrics"].items() if k.endswith((".spark_jobs", ".calls"))}
    assert jobs == {k: b["metrics"][k]["value"] for k in jobs}
    assert jobs["operators.dedup.merge_cluster_labels.spark_jobs"] > 0
    assert jobs["operators.annindex.append_ann_index.spark_jobs"] > 0
    # search results are identical for one seed
    assert rep_a["digest"] == rep_b["digest"]


def test_plan_only_spans_run_no_jobs(traced_runs):
    m = traced_runs["index_lifecycle"][0][1]["metrics"]
    for span in ("operators.dedup.build_dedup_index", "operators.dedup.index_batch_near_dup_pairs"):
        assert m[f"{span}.calls"]["value"] > 0
        assert m[f"{span}.spark_jobs"]["value"] == 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _spec()["command"] + ["--workload", "scan_io", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
