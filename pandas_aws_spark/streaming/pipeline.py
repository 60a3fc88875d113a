"""Structured Streaming surface over the ``events`` table.

The reference has **no** streaming capability (SURVEY.md §2.8 — no
watermarks, windows, state, or late-data handling anywhere in
``/root/reference``); this module is the north-star extension. The
design rule is *batch/stream symmetry*: every streaming pipeline here
reuses the exact window/session expressions of the batch queries in
``queries/events.py``, so one logical definition serves both modes —
Spark's core promise, and what makes these oracle-checkable.

Execution model (and why it scales):

* source: file stream over the same parquet the batch side reads
  (``maxFilesPerTrigger`` paces replay; on a real deployment this is
  Kafka/Kinesis — only the ``readStream.format`` line changes);
* event-time windows + ``withWatermark`` bound state: at 100 TB/day
  the state store only ever holds open windows, not history;
* sinks: ``memory`` for tests/oracle checks, ``parquet`` + checkpoint
  for production; ``availableNow`` trigger gives batch-like runs that
  still exercise the streaming engine (incremental file discovery,
  state store, commit log).

Custom stateful operator: ``user_running_totals`` uses
``applyInPandasWithState`` (GroupState, Arrow-batched) — the engine's
template for operators Spark lacks natively (SURVEY.md §2.8's
"custom stateful streaming" bullet).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.errors import AnalysisException

from ..functions.stable import dsum

__all__ = [
    "events_stream",
    "stream_tumbling_hourly",
    "stream_sessionize",
    "stream_click_attribution",
    "user_running_totals",
    "heartbeat_gap_alerts",
    "run_to_completion",
    "documents_stream",
    "stream_exact_dedup",
    "stream_upsert_to_table",
]

# File-stream sources need an explicit schema (no inference pass at
# stream start). ``ts`` has shipped both as parquet TIMESTAMP(NANOS)
# (read as long — see registry.load_table — and truncated to micros
# here) and as TIMESTAMP(MICROS); events_stream probes the landing
# file's footer and picks the matching raw schema.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """Streaming scan of the events table (file source).

    Same rows the batch ``load_table`` yields; ns->us truncation keeps
    event-time semantics identical across modes.

    The ``ts`` encoding (nanos-as-long vs micros NTZ vs adjusted-to-UTC
    micros) is decided ONCE, from a footer probe of whatever files
    exist at stream construction; an empty / not-yet-created landing
    directory falls back to the long-shaped nanos schema (the
    historical default), so the stream can start before any data
    lands — the explicit-schema property file sources exist for.
    LIMITATION: a landing directory must be homogeneous in ts
    encoding; a later drop with the other encoding will error (or
    misread) mid-stream, because a file source's schema is fixed at
    start. Normalize encodings at ingest if drops can be mixed.
    """
    from ..registry import ship_package

    ship_package(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Footer probe (metadata-only batch read): nanos files surface ts as
    # long under nanosAsLong, micros files as TIMESTAMP_NTZ, and
    # isAdjustedToUTC=true micros files as TIMESTAMP — use the probed
    # type verbatim so batch and stream agree on the same data drop.
    probe_path = path or f"{sf_dir}/events.parquet"
    try:
        ts_type = spark.read.parquet(probe_path).schema["ts"].dataType
    except AnalysisException as exc:
        # Only the empty/not-yet-created landing dir falls back to the
        # nanos-as-long default; any other probe failure (permissions,
        # corrupt footer) must surface, not silently pick an encoding.
        if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
            ts_type = T.LongType()  # no files yet: nanos-as-long default
        else:
            raise
    raw_schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", ts_type)
            for f in _EVENTS_RAW_SCHEMA.fields
        ]
    )
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # FileStreamSource wants a directory or glob (its basePath must be a
    # directory); the testdata table is a single file, so address it as
    # a glob whose base is the sf dir. On a deployment this is the
    # landing directory new files drop into.
    df = reader.parquet(path or f"{sf_dir}/events.parque[t]")
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, T.TimestampNTZType):
        # NTZ wall clock is UTC by convention; convert_timezone keeps
        # the instant correct under any session timezone (see
        # registry.load_table)
        return df.withColumn(
            "ts",
            F.convert_timezone(F.lit("UTC"), F.current_timezone(), F.col("ts")).cast(
                "timestamp"
            ),
        )
    return df  # TimestampType: already an instant


def stream_tumbling_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of
    ``q_events_tumbling_hourly``. State per (open window, event_type)
    only; the watermark lets Spark drop closed windows, which is what
    bounds state at production volume."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Watermarked session windows — streaming twin of
    ``q_events_sessionize``. ``session_window`` merges events into
    per-user sessions incrementally; a session closes (and emits, in
    append mode) once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sess"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select("user_id", F.col("sess.start").alias("session_start"), "n_events", "total_value")
    )


def stream_click_attribution(
    clicks: DataFrame, purchases: DataFrame, attribution_window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-STREAM inner join: attribute each purchase to same-user
    clicks in the preceding ``attribution_window``.

    Both sides carry watermarks and the join condition bounds purchase
    time relative to click time, so Spark can size the join state: a
    buffered click is dropped once the purchase-side watermark passes
    ``click.ts + window`` — state is O(events per window), not O(stream).
    Inner-join matches emit as soon as both sides arrive (append mode).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {attribution_window}")),
        "inner",
    )


# --------------------------------------------------------------------------
# Custom stateful operator: per-user running totals via GroupState.
# --------------------------------------------------------------------------
_RUNNING_SCHEMA = "user_id long, n_events long, total_micros long"
_STATE_SCHEMA = "n long, total_micros long"


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Arrow-batched state update: fold this trigger's rows for one
    user into (count, sum) state; emit the cumulative snapshot.

    The sum is kept in integer micro-units (value * 1e6, the same
    scale-6 fixed point as ``functions.stable``) so accumulation is
    exact and associative — identical totals no matter how the stream
    is chopped into triggers, and bit-identical to the decimal oracle.
    """
    n, total_us = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total_us += int((pdf["value"] * 1_000_000).round().sum())
    state.update((n, total_us))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_micros": [total_us]})


def user_running_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user (count, sum) maintained in the state store —
    the ``applyInPandasWithState`` template for custom stateful ops.
    Emits one snapshot row per user per trigger; downstream keeps the
    latest (max n_events) per user.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Progress snapshots of recently drained queries, appended after every
# awaitTermination in this package. Async StreamingQueryListener events
# can arrive AFTER a fast drain finishes (observed as spurious 0-state
# peaks in SCALE.md's streaming table), so measurement tooling reads
# the authoritative per-batch progress from here instead of relying on
# listener delivery timing. Bounded; entries are (query_name, progress
# dict) pairs.
RECENT_DRAIN_PROGRESS: list[tuple[str, dict]] = []
_MAX_DRAIN_PROGRESS = 256


def record_drain(q) -> None:
    """Capture a terminated StreamingQuery's recentProgress (all batches
    of an AvailableNow drain) for state-peak measurement."""
    try:
        progresses = q.recentProgress or []
    except Exception:
        return
    # recentProgress retains only the last numRecentProgressUpdates
    # entries (default 100). A drain that produced exactly the cap has
    # probably dropped its earliest batches — peaks from it would be
    # silent underreports, so say so (measurement tools raise the cap).
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        cap = int(
            active.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
            if active is not None
            else 100
        )
        if len(progresses) >= cap:
            import warnings

            warnings.warn(
                f"record_drain: recentProgress holds {len(progresses)} entries, "
                f"the retention cap ({cap}) — earliest batches' state peaks may "
                "have been dropped; raise spark.sql.streaming."
                "numRecentProgressUpdates before the drain",
                stacklevel=2,
            )
    except Exception:
        pass
    name = getattr(q, "name", None) or ""
    for p in progresses:
        RECENT_DRAIN_PROGRESS.append((name, p))
    del RECENT_DRAIN_PROGRESS[:-_MAX_DRAIN_PROGRESS]


def run_to_completion(
    result: DataFrame, sink_table: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with ``Trigger.AvailableNow`` into a memory
    sink and return the sink as a (batch) DataFrame.

    ``availableNow`` processes everything currently in the source then
    stops — batch-equivalent results, real streaming execution (state
    store + commit log), which is what the oracle checks rely on. In
    production swap for ``writeStream.format('parquet').option(
    'checkpointLocation', ...)`` with a processing-time trigger.

    Streaming state cost scales with the PARTITION count, not the data:
    every shuffle partition owns a state-store instance per trigger
    (open/commit/snapshot each cycle). Under a caller session left at
    the 200-partition default, a small drain pays 200 state stores of
    pure overhead — so pin a sane count for the drain and restore the
    caller's setting after. Size this to cores (or state volume) in
    production, never the default.
    """
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record_drain(q)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            # caller never set it explicitly — drop our override so the
            # session falls back to its own default
            spark.conf.unset("spark.sql.shuffle.partitions")
    return spark.table(sink_table)


# --------------------------------------------------------------------------
# Streaming exact dedup: incremental first-seen tracking per content hash.
# --------------------------------------------------------------------------
_DEDUP_SCHEMA = "content_hash string, kept_id long, n_copies long"
_DEDUP_STATE = "kept long, n long"


def _dedup_fn(key, pdfs, state: GroupState):
    """Per content-hash state: (min doc id seen, total copies). Emits
    the updated snapshot each trigger; the min-id survivor is stable no
    matter how the stream is chopped — same answer as batch dedup."""
    kept, n = state.get if state.exists else (None, 0)
    for pdf in pdfs:
        n += len(pdf)
        batch_min = int(pdf["doc_id"].min())
        kept = batch_min if kept is None else min(kept, batch_min)
    state.update((kept, n))
    yield pd.DataFrame({"content_hash": [key[0]], "kept_id": [kept], "n_copies": [n]})


def stream_exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup over a document stream — the streaming
    twin of ``operators.dedup.exact_dedup``: content-hash keyed state
    holds (survivor id, copy count); every trigger updates incrementally
    (state size = distinct corpus, NOT stream length). Downstream keeps
    the latest snapshot per hash (max n_copies)."""
    hashed = docs.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("doc_id")
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """Streaming scan of the documents table (same glob trick as
    :func:`events_stream`)."""
    from ..registry import ship_package

    ship_package(spark)
    reader = spark.readStream.schema(_DOCS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path or f"{sf_dir}/documents.parque[t]")


def stream_upsert_to_table(
    stream: DataFrame,
    warehouse,
    target_table: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """Continuous keyed upsert into a warehouse table via
    ``foreachBatch`` — each micro-batch merges (last-write-wins,
    ``WarehouseClient.upsert`` semantics) into the target. The classic
    CDC-apply topology: the stream provides incremental changes, the
    batch-side merge provides the keyed table. Restart-safe: the
    checkpoint replays unacknowledged batches, and the merge is
    idempotent per batch (same keys -> same survivors).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        warehouse.upsert(batch_df, target_table, keys)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_drain(q)


def stream_ann_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    batch_prefix: str = "s",
    staleness_check: bool = False,
    staleness_threshold: float | None = None,
) -> None:
    """Continuous vector ingest into a persisted ANN index via
    ``foreachBatch`` — the crawl-to-index topology: each micro-batch
    lands as an O(batch) ``append_ann_index`` against the FROZEN
    quantizers, with ``batch_id=<prefix><micro-batch id>`` so an
    at-least-once foreachBatch replay overwrites its own batch subdirs
    (exactly-once index effect; the checkpoint pins the id sequence).

    ``staleness_check=True`` plumbs the calibrated quantizer-drift
    trigger (r11 verdict ask #9) into the place drift actually ARRIVES
    in production — the standing ingest stream: each micro-batch runs
    ``quantizer_staleness`` pre-append and warns past the SCALE.md
    occupancy-TV threshold, naming ``rebuild_ann_index`` as the
    action. foreachBatch callbacks execute on the driver, so the
    warning surfaces in the driver's log/warning stream where an
    operator alert hook can see it; appends still land (recall decay
    concerns future searches — the rebuild retrains on everything
    ingested, these batches included)."""
    from ..operators.annindex import append_ann_index

    kwargs: dict = {"staleness_check": staleness_check}
    if staleness_threshold is not None:
        kwargs["staleness_threshold"] = staleness_threshold

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ann_index(
            batch_df, index_path, batch_id=f"{batch_prefix}{batch_id}", **kwargs
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_drain(q)


def stream_dedup_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    threshold: float = 0.8,
    batch_prefix: str = "s",
    maintain_clusters: bool = False,
) -> None:
    """Continuous document ingest into a persisted dedup index — the
    crawl-side twin of :func:`stream_ann_ingest`: each micro-batch is
    shingled/signed against the index's STORED recipe and appended as
    an O(batch) delta (``append_dedup_index``), with
    ``batch_id=<prefix><micro-batch id>`` so foreachBatch replays
    overwrite their own batch subdirs.

    ``maintain_clusters=True`` keeps the persisted duplicate-cluster
    labels current as the stream lands: per micro-batch, the
    batch-vs-index pairs union the batch-internal pairs — ONE fused
    candidate join + verify pass (``index_batch_near_dup_pairs``, the
    batch delta's band postings against the stored-union-delta ones,
    no corpus text scan) —
    feed ``merge_cluster_labels``, whose union-merge touches only the
    components the new pairs reach (O(batch + touched)). The merge
    runs BEFORE the append, mirroring the batch entry
    (``q_dedup_cluster_incremental``); final labels are micro-batch-
    boundary-INVARIANT: a near-dup pair split across batches is caught
    by the later batch's index probe, a pair within one batch by its
    internal scan, so the folded pair graph — hence every connected
    component — is that of the union corpus however the file-to-
    trigger split lands. Replay after a crash between the merge and
    the append also converges: the cluster delta recomputes from the
    OTHER batches' state, and the pair pass drops the stored copies of
    the batch's own ids before probing (``index_batch_near_dup_pairs``),
    so a replay against an index that already holds the batch yields
    exactly the clean run's pairs — no self pairs, reversed or doubled
    rows."""
    from ..operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        index_batch_near_dup_pairs,
        merge_cluster_labels,
        read_dedup_index,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        stored = read_dedup_index(spark, index_path)
        p = stored.params
        recipe = {
            k: p[k] for k in ("shingle_k", "n_hashes", "bands", "hash_fn")
        }
        bid = f"{batch_prefix}{batch_id}"
        # ONE shingle evaluation per micro-batch (r16, mirroring
        # q_dedup_cluster_incremental): the delta built for the append
        # also serves the batch-internal and batch-vs-index pair scans
        # — pair sets and jaccard doubles are bit-identical to the
        # pre-r16 triple evaluation (sorted vs unsorted packs only).
        delta = build_dedup_index(batch_df, p["id_col"], text_col, **recipe)
        if maintain_clusters:
            # cross + internal pairs from ONE fused candidate join +
            # verify pass (index_batch_near_dup_pairs, r16 batch 2)
            merge_cluster_labels(
                index_batch_near_dup_pairs(
                    delta, stored, threshold=threshold
                ).select("id_a", "id_b"),
                index_path,
                batch_id=bid,
            )
        # append last: write_dedup_index releases the delta's cached
        # per-doc frame after both frames land on disk
        append_dedup_index(delta, index_path, batch_id=bid)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_drain(q)


# --------------------------------------------------------------------------
# Heartbeat-gap detection: alert when a user's inter-event silence
# exceeds a threshold. Order-sensitive custom state (last-seen
# timestamp per user); with the AvailableNow drain of one landing file
# each user's events arrive in a single sorted batch, so the result is
# batch-equivalent (the lead()-window oracle). A production deployment
# with many landing files adds a watermark-sorted pre-stage or event-
# time session windows instead of relying on arrival order.
# --------------------------------------------------------------------------
_GAP_SCHEMA = "user_id long, gap_s long"
_GAP_STATE_SCHEMA = "last_us long"


def _gap_alert_fn(key, pdfs, state, threshold_us: int):
    import pandas as pd

    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    us = (rows["ts"].astype("int64") // 1000).tolist()  # ns -> us
    last = state.get[0] if state.exists else None
    gaps = []
    for t in us:
        if last is not None and t - last > threshold_us:
            gaps.append((t - last) // 1_000_000)
        last = t
    state.update((last,))
    yield pd.DataFrame({"user_id": [key[0]] * len(gaps), "gap_s": gaps})


def heartbeat_gap_alerts(events: DataFrame, threshold_hours: int = 48) -> DataFrame:
    """Per-gap alert rows (user_id, gap_s) for silences longer than the
    threshold — the monitoring primitive behind dead-sensor / churn
    detection. State = one int64 per user."""
    threshold_us = threshold_hours * 3_600_000_000

    def fn(key, pdfs, state):
        yield from _gap_alert_fn(key, pdfs, state, threshold_us)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_GAP_SCHEMA,
        stateStructType=_GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_click_attribution_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM **left outer** join: like
    :func:`stream_click_attribution`, but clicks with NO purchase in
    the window still emit (with nulls) once the watermark proves no
    match can arrive — the semantics that power "abandoned intent"
    feeds. An unmatched click is held in state until the watermark
    passes ``click.ts + attribution_window``; under an availableNow
    drain the FINAL watermark is ``max(event ts) - watermark``, so
    clicks younger than ``watermark + attribution_window`` from the
    end of the feed are still awaiting proof and do NOT emit a null
    row — exactly mirrored by the batch oracle's cutoff.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("p_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {attribution_window}")),
        "leftOuter",
    )
