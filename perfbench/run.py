#!/usr/bin/env python3
"""The engine's benchmark: one seeded, single-client, closed-loop
workload per run, on ``local[4]`` in one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``workloads.py``):

* ``scan_io`` — the ten headline registry queries (plan build + full
  ``noop`` materialisation) interleaved with object-store round trips
  (csv+gzip and parquet writes, reads, multi-key prefix reads,
  compaction) and warehouse upserts with a query after each;
* ``index_lifecycle`` — a stored IVF-PQ index over a seeded 3/4 of
  ``embeddings`` and a stored MinHash-LSH index with incremental
  cluster labels over a seeded 3/4 of ``documents``, then rounds of
  {append one batch; read + search} on each.

A run measures whole cycles, at least one, until ``--seconds`` have
passed, after a set-up that starts its own JVM (about 40 s cold on a
4-core host).

``--trace 0`` measures the end-to-end metrics:

* ``setup_s`` — engine import, plus the median of ``SETUP_REPEATS``
  session set-ups (``get_spark`` and input-table resolution), plus the
  workload's own set-up work (the index builds; the warehouse bulk load);
* ``ops_per_s`` — measured ops over measured wall time;
* ``write_p50_s`` / ``read_p50_s`` — the median latency of each op
  type that stores output (csv and parquet writes, compaction, index
  ingests) / that reads stored output back (parquet and prefix reads,
  warehouse queries, index searches), averaged over those op types.
  The types differ in cost, so a median pooled over all of them would
  sit in the gap between two types and ignore a change to any type
  that stays on its side; this way each type moves the metric by its
  share. Headline queries and warehouse upserts are neither kind:
  they count in ``ops_per_s`` and in the report's per-type medians;
* ``stored_bytes_per_input_byte`` — bytes on disk under the workload's
  artifacts at the end, over the raw bytes of the input rows ingested.

``--trace 1`` is a separate run of the same set-up and ``TRACE_CYCLES``
cycles with a Spark job group per span, reporting the per-layer metrics.

Output: a ``report`` JSON line (environment stamp, per-op-type medians,
tail percentile, failed-op ratio, check failures), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``. All files live
under ``.perfbench_run/`` in the working directory and are deleted at
exit. Optional ``--scale`` shrinks the inputs (used by the smoke test).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"
SETUP_REPEATS = 3
TRACE_CYCLES = 1

# Per-layer spans and the metrics each reports. Plan-only spans build
# lazy frames (their jobs land in the consuming span), so they carry no
# executor or driver-only split; session start runs no Spark job.
#
# Which end-to-end metric each layer metric should move (and on which
# workload it should not):
#
#   dedup.merge_cluster_labels.spark_jobs/.driver_only_s
#       -> write_p50_s, ops_per_s on index_lifecycle; not scan_io
#   dedup.read_dedup_index.spark_jobs
#       -> write_p50_s and read_p50_s on index_lifecycle; not scan_io
#   annindex.append_ann_index.spark_jobs/.driver_only_s
#       -> write_p50_s on index_lifecycle; not read_p50_s, not scan_io
#   annindex.read_ann_index.spark_jobs, ann_index_topk.exec_cpu_s/.driver_only_s
#       -> read_p50_s on index_lifecycle; not write_p50_s, not scan_io
#   *.build_ann_index.*, *.write_*_index.*, dedup.init_cluster_labels.*
#       -> setup_s on index_lifecycle; not scan_io
#   queries.build.busy_s, queries.execute.exec_cpu_s
#       -> ops_per_s on scan_io (and the report's query median); not
#          write_p50_s or read_p50_s, not index_lifecycle
#   objectstore.write_df.*, objectstore.compact_prefix.*
#       -> write_p50_s on scan_io; not read_p50_s, not index_lifecycle
#   WarehouseClient.upsert.*
#       -> ops_per_s on scan_io (and the report's upsert median); not
#          write_p50_s or read_p50_s, not index_lifecycle
#   objectstore.read_df*.*, WarehouseClient.query_df.*
#       -> read_p50_s on scan_io; not write_p50_s, not index_lifecycle
#   genstore.<artifact>.files/.bytes/.generations
#       -> stored_bytes_per_input_byte on index_lifecycle; not scan_io
#   session.get_spark.busy_s -> setup_s on both
BASE = ("calls", "busy_s", "spark_jobs")
FULL = BASE + ("exec_cpu_s", "driver_only_s")
WRITER = FULL + ("output_bytes",)
SPANS = {
    "session.get_spark": ("calls", "busy_s"),
    "queries.build": BASE,
    "queries.execute": FULL,
    "objectstore.write_df": WRITER + ("shuffle_bytes",),
    "objectstore.read_df": FULL,
    "objectstore.read_df_from_prefix": FULL,
    "objectstore.compact_prefix": WRITER + ("shuffle_bytes",),
    "warehouse.WarehouseClient.upsert": WRITER + ("shuffle_bytes",),
    "warehouse.WarehouseClient.query_df": FULL,
    "operators.annindex.build_ann_index": FULL,
    "operators.annindex.write_ann_index": WRITER,
    "operators.annindex.append_ann_index": WRITER,
    "operators.annindex.read_ann_index": FULL,
    "operators.annindex.ann_index_topk": FULL,
    "operators.dedup.build_dedup_index": BASE,
    "operators.dedup.write_dedup_index": WRITER,
    "operators.dedup.read_dedup_index": FULL,
    "operators.dedup.init_cluster_labels": WRITER,
    "operators.dedup.index_batch_near_dup_pairs": BASE,
    "operators.dedup.merge_cluster_labels": WRITER + ("shuffle_bytes",),
    "operators.dedup.append_dedup_index": WRITER,
    "operators.dedup.indexed_near_dup_pairs": FULL,
    "operators.dedup.read_cluster_labels": FULL,
}
GENSTORE_ARTIFACTS = ("ann_index", "dedup_index")
UNITS = {
    "calls": "count",
    "busy_s": "s",
    "spark_jobs": "count",
    "exec_cpu_s": "s",
    "driver_only_s": "s",
    "output_bytes": "B",
    "shuffle_bytes": "B",
    "files": "count",
    "bytes": "B",
    "generations": "count",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit."""
    out = []
    for span, metrics in SPANS.items():
        out.extend((f"{span}.{m}", UNITS[m]) for m in metrics)
    for art in GENSTORE_ARTIFACTS:
        for m in ("files", "bytes", "generations"):
            out.append((f"operators.genstore.{art}.{m}", UNITS[m]))
    out.append(("run.parallelism", "ratio"))
    out.append(("run.tracing_overhead_s", "s"))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def dir_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, gen-* directories) under ``path``."""
    files = size = gens = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if dirpath == path:
            gens = sum(1 for d in dirnames if d.startswith("gen-"))
        files += len(filenames)
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return files, size, gens


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and its
    value; (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    s = sorted(values)
    return round(100.0 * (n - 10) / n, 1), s[n - 11]


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_steal_s() -> float:
    """Steal time so far (CPU time the hypervisor gave to other guests):
    a run whose steal grew was measured on a contended host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Context:
    def __init__(self, root: str, tracer):
        self.root = root
        self.tracer = tracer
        self.spark = None

    def start_session(self) -> None:
        from pandas_aws_spark.session import get_spark

        tmp = os.path.join(self.root, "tmp")
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.local.dir": os.path.join(self.root, "local"),
                    "spark.sql.warehouse.dir": os.path.join(self.root, "spark-warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def env_stamp(spark) -> dict:
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(REPO, ".git")):
        import subprocess

        res = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        commit = res.stdout.strip() or commit
    conf = spark.sparkContext.getConf()
    return {
        "git_commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def run(args) -> dict:
    from inputs import make_inputs
    from spans import Tracer

    root = os.path.join(os.getcwd(), ".perfbench_run", f"{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    report["loadavg_start"] = loadavg()
    steal0 = cpu_steal_s()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(root, tracer)
    try:
        t0 = time.perf_counter()
        import workloads  # imports the engine

        report["import_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        inp = make_inputs(args.seed, os.path.join(root, "data"), args.workload, args.scale)
        report["inputs_s"] = time.perf_counter() - t0
        with RssSampler() as rss:
            t0 = time.perf_counter()
            ctx.start_session()
            report["first_session_s"] = time.perf_counter() - t0
            wl = workloads.WORKLOADS[args.workload](ctx, inp)
            setups = []
            for _ in range(SETUP_REPEATS):
                ctx.spark.stop()
                t0 = time.perf_counter()
                ctx.start_session()
                wl.register()
                setups.append(time.perf_counter() - t0)
            report["env"] = env_stamp(ctx.spark)
            t0 = time.perf_counter()
            setup_parts = wl.warm_up()
            report["warm_up_s"] = time.perf_counter() - t0
            records, wall, cycles, genstore, exec_run_s = measure(wl, args)
            t0 = time.perf_counter()
            report["verify_failed_ops"] = failed_deferred = wl.verify()
            report["verify_s"] = time.perf_counter() - t0
            stored = sum(dir_stats(p)[1] for p in wl.artifacts.values())
            report["recall"] = wl.recall
            report["verified"] = wl.verified
            report["digest"] = wl.digest()
            t0 = time.perf_counter()
            ctx.stop()
            report["teardown_s"] = time.perf_counter() - t0
        report["loadavg_end"] = loadavg()
        report["cpu_steal_s"] = cpu_steal_s() - steal0
    finally:
        try:
            ctx.stop()
        finally:
            shutil.rmtree(root, ignore_errors=True)
            parent = os.path.dirname(root)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    attempted = len(records)
    failed = sum(1 for r in records if not r[3]) + failed_deferred
    durations = [r[2] for r in records]
    by_type: dict[str, list[float]] = {}
    for kind, op_type, secs, _ in records:
        by_type.setdefault(op_type, []).append(secs)
    pct, tail_s = tail(durations)
    report.update(
        {
            "cycles": cycles,
            "ops": attempted,
            "measured_s": wall,
            "setup_runs_s": setups,
            "op_seconds": [(t, round(secs, 4)) for _, t, secs, _ in records],
            "op_p50_s": {t: statistics.median(v) for t, v in sorted(by_type.items())},
            "op_count": {t: len(v) for t, v in sorted(by_type.items())},
            "op_tail_s": tail_s,
            "op_tail_pct": pct,
            "failed_op_ratio": failed / attempted if attempted else None,
            "failures": wl.failures,
            "peak_rss_mb": rss.peak / 2**20,
        }
    )
    report.update(setup_parts)
    if args.trace:
        metrics = layer_metrics(tracer, genstore, wall, exec_run_s)
    else:
        metrics = {
            "setup_s": (
                report["import_s"] + statistics.median(setups) + sum(setup_parts.values()),
                "s",
            ),
            "ops_per_s": (attempted / wall, "1/s"),
            "write_p50_s": (kind_p50(records, "write"), "s"),
            "read_p50_s": (kind_p50(records, "read"), "s"),
            "stored_bytes_per_input_byte": (stored / wl.input_bytes, "ratio"),
        }
    return {
        "report": report,
        "result": {
            "correct": failed == 0 and not wl.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def kind_p50(records, kind: str) -> float:
    """Mean over the op types of ``kind`` of each type's median latency."""
    by_type: dict[str, list[float]] = {}
    for k, op_type, secs, _ in records:
        if k == kind:
            by_type.setdefault(op_type, []).append(secs)
    return statistics.mean(statistics.median(v) for v in by_type.values())


def measure(wl, args):
    """Run whole cycles: until ``--seconds`` have passed (timed run) or
    ``TRACE_CYCLES`` cycles (traced run). Returns op records
    ``(kind, op_type, seconds, ok)``, measured wall time, cycle count
    and, when traced, the peak genstore listing per artifact and the
    executor run time of the cycles' Spark jobs."""
    records = []
    run0 = wl.ctx.tracer.exec_run_s()
    genstore: dict[str, list[int]] = {a: [0, 0, 0] for a in GENSTORE_ARTIFACTS}
    start = time.perf_counter()
    cycles = 0
    while cycles < wl.n_cycles():
        for op in wl.cycle(cycles):
            t0 = time.perf_counter()
            try:
                ok = op.run()
            except Exception:  # a failed op is counted, the run goes on
                traceback.print_exc()
                ok = False
            records.append((op.kind, op.op_type, time.perf_counter() - t0, ok))
            if args.trace:
                o0 = time.perf_counter()
                for art, path in wl.artifacts.items():
                    if art in genstore:
                        genstore[art] = [max(a, b) for a, b in zip(genstore[art], dir_stats(path))]
                wl.ctx.tracer.overhead_s += time.perf_counter() - o0
        cycles += 1
        if args.trace and cycles >= TRACE_CYCLES:
            break
        if not args.trace and time.perf_counter() - start >= args.seconds:
            break
    wall = time.perf_counter() - start
    return records, wall, cycles, genstore, wl.ctx.tracer.exec_run_s() - run0


def layer_metrics(tracer, genstore, wall, exec_run_s) -> dict:
    from spans import SpanStats

    out = {}
    for span, metrics in SPANS.items():
        st = tracer.stats.get(span, SpanStats())
        for m in metrics:
            out[f"{span}.{m}"] = (getattr(st, m), UNITS[m])
    for art in GENSTORE_ARTIFACTS:
        for m, v in zip(("files", "bytes", "generations"), genstore[art]):
            out[f"operators.genstore.{art}.{m}"] = (v, UNITS[m])
    # Executor run time of the measured cycles' spans over the cores the
    # measured interval offered: Sigma executorRunTime / (wall x cores).
    out["run.parallelism"] = (exec_run_s / (wall * CORES), "ratio")
    out["run.tracing_overhead_s"] = (tracer.overhead_s, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["scan_io", "index_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import pandas_aws_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"report": out["report"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
