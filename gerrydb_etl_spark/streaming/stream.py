"""Structured Streaming over the events table.

The batch window builders (streaming/windows.py) are reused verbatim
— window()/session_window are stream-compatible — with a watermark
bolted on for state eviction. `run_stream_to_memory` drives any of
them with Trigger.AvailableNow against the parquet directory (file
source), which exercises the *real* streaming engine (micro-batches,
state store, watermarks) deterministically in tests.

Stateful custom operator: `running_user_totals` uses
applyInPandasWithState (Arrow-batched per-group state) to keep a
running per-user event count + value sum across micro-batches — the
applyInPandasWithState pattern from the brief.

Scale notes: the file source lists+splits input like batch parquet;
state store size for the windowed aggs is bounded by watermark
eviction; per-user state for running totals is O(distinct users).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gerrydb_etl_spark.sources.registry import (
    _EVENTS_PHYSICAL,
    TABLE_SCHEMAS,
    events_ts_is_nanos,
)
from gerrydb_etl_spark.store.staging import IVF, Fixture


# target compressed input bytes per state-store partition when
# deriving a scale-adaptive partition count (see
# scaled_state_partitions): at driver bench scale (events ~2 MB) the
# floor of 8 binds — exactly the constant the heads carried before —
# so x1 plans and floors are byte-identical; a 10x corpus derives ~32
# and a production corpus saturates cluster parallelism.
_STATE_PARTITION_BYTES = 640 << 10


def scaled_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events", floor: int = 8
) -> int:
    """Scale-adaptive state-store partition count (r18, the VERDICT
    r17 item-1 lever): every micro-batch commits one state file per
    partition, so a bounded test stream wants FEW partitions (the
    run_stream_to_memory note: 32 partitions spent more time in
    state-store commit I/O than aggregation at bench scale), while a
    scaled stream wants state spread — the x10 battery measured the
    stateful-UDF head 4.17 s at 8 partitions vs 3.06 s at 32
    (.scale/opt_r18_x10_ab.json). Deriving the count from input size
    (clamped to [floor, cluster parallelism]) keeps the bench-scale
    value exactly at the old constant and scales past it only when
    the corpus does; unknown sizes (non-file sources) stay at the
    floor."""
    from gerrydb_etl_spark.operators.partitioning import _input_bytes
    from gerrydb_etl_spark.sources.registry import load_table

    size = _input_bytes(load_table(spark, sf_dir, table))
    if not size:
        return floor
    return max(
        floor,
        min(
            spark.sparkContext.defaultParallelism,
            size // _STATE_PARTITION_BYTES,
        ),
    )


def _stage_events_dir(sf_dir: str) -> str:
    """The driver ships events as a single parquet FILE; the file
    stream source only accepts directories, so expose the file
    through a temp directory of symlinks (no data copy). Caller owns
    cleanup of the returned directory."""
    src = os.path.join(sf_dir, "events.parquet")
    stage = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(src, os.path.join(stage, "events.parquet"))
    return stage


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    stage: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet directory (file source),
    with the same ts normalization as the batch loader (footer sniff:
    nanos generations get the ns->µs conversion, micros generations a
    native timestamp read). If ``stage`` is None a staging dir is
    created and leaked — pass one (see ``_stage_events_dir``) to own
    its lifetime."""
    if stage is None:
        stage = _stage_events_dir(sf_dir)
    src = os.path.join(sf_dir, "events.parquet")

    def reader(schema):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            # bound each micro-batch to N input files — the lever that
            # forces MULTIPLE micro-batches over a bounded file set, so
            # tests can prove state really carries across batches
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.parquet(stage)

    if events_ts_is_nanos(src):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader(_EVENTS_PHYSICAL)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return reader(TABLE_SCHEMAS["events"])


def _stage_events_dir_duplicated(sf_dir: str) -> str:
    """Stage the events file TWICE (two symlink names -> same file),
    so the file stream source delivers every event exactly twice —
    a deterministic stand-in for an at-least-once upstream (replayed
    Kafka offsets, retried file drops). Caller owns cleanup."""
    src = os.path.join(sf_dir, "events.parquet")
    stage = tempfile.mkdtemp(prefix="events_stream_dup_")
    os.symlink(src, os.path.join(stage, "events_a.parquet"))
    os.symlink(src, os.path.join(stage, "events_b.parquet"))
    return stage


def run_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    state_partitions: int | None = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exactly-once recovery from at-least-once input: the
    staged source lists the events file twice (every event delivered
    2x), `dropDuplicatesWithinWatermark` collapses replays by
    event_id (state evicted by the watermark, so dedup memory is
    bounded by the delay window — the only dedup that survives an
    unbounded stream), and the deduped stream feeds the SAME tumbling
    aggregation as the batch path. Two chained stateful operators in
    one streaming query — Spark requires append output for stateful
    chaining, and append emits only watermark-closed windows, so the
    companion oracle excludes windows ending after max(ts) - delay.

    At 100 TB of replayed input the dedup state is one event_id per
    event inside the watermark horizon, hash-partitioned across the
    state store; everything downstream sees each event once.
    """
    stage = _stage_events_dir_duplicated(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        from gerrydb_etl_spark.streaming.windows import tumbling

        stream = read_events_stream(
            spark, sf_dir, stage, max_files_per_trigger=max_files_per_trigger
        )
        deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            tumbling(deduped, "1 hour")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _drain_memory_sink(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


# Driver-side ceiling for memory-sink drains. The memory sink holds
# the stream's OUTPUT (state-store cardinality: windows x keys), not
# its input — bounded for watermarked appends, but complete/update
# modes grow with distinct groups, and at 100x events that is the one
# driver-side bottleneck left in this module (VERDICT r14 item 6).
# The guard turns the failure mode from an undiagnosable driver OOM
# into a named contract error pointing at run_stream_to_files.
MEMSINK_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_MEMSINK_MAX_ROWS", "2000000")
)


def _drain_memory_sink(
    spark: SparkSession, name: str, max_rows: int | None = None
) -> DataFrame:
    """Materialize a memory-sink table executor-side and drop the
    sink's temp view, so repeated streaming runs leave no registered
    tables behind. The sink's rows are pinned with an eager
    localCheckpoint — block storage, never a Python round-trip. The
    pre-r18 spelling collected every row into driver Python and
    re-uploaded it through createDataFrame (per-row pickle + schema
    verification both ways); the stage-split probe measured that
    round-trip at ~2.3 s of events_stream_join_attribution's ~4.8 s
    wall (.scale/opt_r18_stream_split.json — guide §4: eliminate the
    JVM<->Python boundary, §5: no driver loops in query paths). Rows
    and schema are exactly the sink table's either way.

    The materialized size is bounded by the windowed-aggregate
    cardinality (state-store output), never by the input row count —
    and that bound is ENFORCED at MEMSINK_MAX_ROWS: a stream whose
    group cardinality outgrows the driver (complete-mode windows
    over unbounded time ranges) fails with a named error instead of
    an OOM. The sink accumulated in the driver while the stream ran,
    so the guard documents the ceiling and names the scale path
    (run_stream_to_files, whose output never touches the driver)
    rather than pretending to prevent the allocation."""
    cap = MEMSINK_MAX_ROWS if max_rows is None else max_rows
    snap = spark.table(name)
    n = snap.count()
    if n > cap:
        spark.catalog.dropTempView(name)
        raise ValueError(
            f"memory sink '{name}' holds {n} rows, past the "
            f"driver-side cap of {cap}: complete/update-mode memory "
            "sinks are driver-bounded by design — route this stream "
            "through run_stream_to_files (foreachBatch parquet, "
            "executor-side materialization) or raise "
            "SPARK_GRAFT_MEMSINK_MAX_ROWS if the driver is sized "
            "for it"
        )
    pinned = snap.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return pinned


def run_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    watermark: str = "1 hour",
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a window builder as a stream with AvailableNow and
    return the materialized result from the memory sink. The
    checkpoint dir, symlink staging dir, and memory-sink table are
    all cleaned up before returning.

    ``state_partitions`` sets the stream's state-store partition
    count (= spark.sql.shuffle.partitions at first start; the
    checkpoint pins it afterwards, and each call here starts a fresh
    checkpoint). Size it to event volume: every micro-batch commits
    one state file per partition, so a bounded test stream at the
    session default of 32 partitions spends more time in state-store
    commit I/O than in the aggregation (measured: session windows
    10.1 s at 32 partitions → 2.6 s at 8, same result); a production
    stream wants hundreds. None inherits the session setting.
    """
    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        stream = read_events_stream(spark, sf_dir, stage).withWatermark(
            "ts", watermark
        )
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _drain_memory_sink(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def run_stream_to_files(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    watermark: str = "1 hour",
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Scale twin of run_stream_to_memory: the aggregate leaves the
    stream through foreachBatch parquet epochs instead of a
    driver-resident memory sink, so NO result row ever passes
    through the driver — the path a 100x-events complete-mode
    stream must take past the MEMSINK_MAX_ROWS ceiling.

    Each micro-batch writes the (complete-mode: full) aggregate to
    ``epoch=<batch_id>`` and then drops a commit marker — the
    standard foreachBatch idempotence recipe (a replayed batch after
    a restart sees its marker and skips, so epochs are exactly-once;
    same shape as idempotent_batch_sink below). After termination
    the LAST committed epoch — the final answer under complete mode
    — is pinned executor-side with an eager localCheckpoint (the
    distributed analogue of the drain collect: blocks live in
    executor storage, never the driver) so every temp dir can be
    removed before returning. A production caller would instead
    keep the epoch directory as the published table.

    Complete mode ONLY: the last-epoch read is the full answer
    precisely because each complete-mode epoch rewrites the whole
    aggregate. Under append/update the epochs are DELTAS — returning
    the last one would silently drop every earlier micro-batch's
    rows (ADVICE r15) — so any other mode raises; an append-mode
    caller wants the union of all committed epochs, which is
    idempotent_batch_sink + a multi-dir read (the
    run_stream_to_versioned_store shape)."""
    if output_mode != "complete":
        raise ValueError(
            f"run_stream_to_files supports output_mode='complete' only "
            f"(got {output_mode!r}): the last committed epoch IS the "
            "answer only when every epoch rewrites the full aggregate; "
            "for append-mode epochs use idempotent_batch_sink and read "
            "the union of committed batch dirs"
        )
    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    out_root = tempfile.mkdtemp(prefix="stream_files_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            dest = os.path.join(out_root, f"epoch={batch_id}")
            marker = dest + ".committed"
            if os.path.exists(marker):
                return
            batch_df.write.mode("overwrite").parquet(dest)
            with open(marker, "w") as f:
                f.write("ok")

        stream = read_events_stream(spark, sf_dir, stage).withWatermark(
            "ts", watermark
        )
        q = (
            transform(stream)
            .writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        epochs = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(out_root)
            if d.startswith("epoch=") and not d.endswith(".committed")
            and os.path.exists(os.path.join(out_root, d) + ".committed")
        )
        if not epochs:
            raise ValueError(
                "stream produced no committed epochs — empty source?"
            )
        final = spark.read.parquet(
            os.path.join(out_root, f"epoch={epochs[-1]}")
        )
        return final.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out_root, ignore_errors=True)


USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running event
    count + value sum via applyInPandasWithState. State is one tiny
    tuple per user; Arrow batches carry the group's rows."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


USER_CENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

_CENTS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _update_user_cents(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value_cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_cents": [cents]}
    )


def running_user_cents(events: DataFrame) -> DataFrame:
    """Oracle-exact variant of the stateful running-totals operator:
    the monetary column is converted to integer cents JVM-side
    (decimal cast, so 0.1*100 is exactly 10) BEFORE the UDF, and the
    per-group state sums int64 — summation order can't perturb the
    result, which is what lets a custom applyInPandasWithState
    operator share a plain GROUP BY oracle."""
    cents = events.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("value_cents"),
    )
    return cents.groupBy("user_id").applyInPandasWithState(
        _update_user_cents,
        outputStructType=USER_CENTS_SCHEMA,
        stateStructType=_CENTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_running_cents(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Drive the exact stateful operator with AvailableNow and return
    final per-user totals. Update-mode memory sink appends one row
    per (user, micro-batch); the final row per user (max n_events —
    monotone in updates) is the complete total. Cleans up like
    run_stream_to_memory."""
    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        stream = read_events_stream(spark, sf_dir, stage)
        q = (
            running_user_cents(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        snap = _drain_memory_sink(spark, name)
        return snap.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def run_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful operator with AvailableNow; returns the
    final per-user totals (last update per user wins). Cleans up its
    checkpoint/staging dirs and memory-sink table like
    run_stream_to_memory."""
    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    try:
        stream = read_events_stream(spark, sf_dir, stage)
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # update-mode memory sink appends every state update; keep the
        # final row per user (max n_events is monotone in updates).
        snap = _drain_memory_sink(spark, name)
        return snap.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def run_click_view_attribution(
    spark: SparkSession,
    sf_dir: str,
    attribution_window: str = "4 hours",
    watermark: str = "1 hour",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Stream-STREAM inner join with an event-time range condition:
    every view is attributed to each prior click by the same user
    within ``attribution_window`` — the classic streaming ad-
    attribution join, and the one Structured Streaming join shape
    the rest of this module didn't yet exercise.

    Both sides are independent file-source streams (two readStream
    handles over the same staged dir) with their own watermark; the
    range condition ``view.ts BETWEEN click.ts AND click.ts + W``
    is ON THE EVENT-TIME COLUMNS, which is what lets the engine
    derive state-eviction bounds: click state is dropped once the
    view-side watermark passes click.ts + W, and view state once the
    click-side watermark passes view.ts. Join state is therefore
    bounded by (watermark + window) x arrival rate, per user-id
    state partition — an unbounded 100 TB/day stream holds only
    hours of state, hash-spread across the state store.

    Output is append-mode (the only mode stream-stream inner joins
    support); timestamps are emitted as exact epoch-microsecond
    BIGINTs so the batch-SQL oracle compares integer-for-integer.
    """
    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        clicks = (
            read_events_stream(spark, sf_dir, stage)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        views = (
            read_events_stream(spark, sf_dir, stage)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", watermark)
        )
        joined = clicks.join(
            views,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("click_ts"))
            & (
                F.col("view_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
            ),
        ).select(
            "click_id",
            "view_id",
            F.col("c_user").alias("user_id"),
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("view_ts").alias("view_us"),
            (F.unix_micros("view_ts") - F.unix_micros("click_ts")).alias("lag_us"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _drain_memory_sink(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def idempotent_batch_sink(batches_root: str):
    """foreachBatch function writing each micro-batch to an
    epoch-id-keyed parquet dir with a commit marker; a replayed
    epoch (same id — what a post-write/pre-checkpoint crash causes)
    is a no-op, which is what upgrades Spark's at-least-once batch
    delivery to an exactly-once sink."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bdir = os.path.join(batches_root, f"b_{batch_id:06d}")
        marker = bdir + ".committed"
        if os.path.exists(marker):  # replayed epoch -> no-op
            return
        batch_df.write.mode("overwrite").parquet(bdir)
        with open(marker, "w") as f:
            f.write(str(batch_id))

    return sink


def run_stream_to_versioned_store(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    max_files_per_trigger: int | None = 1,
) -> dict:
    """Exactly-once streaming ingest into the versioned store:
    foreachBatch + batch-id idempotence + write-audit-publish.

    Each micro-batch lands in a staging dir keyed by its EPOCH id
    with a commit marker written after the parquet write; Spark
    replays a failed batch under the SAME epoch id, so the marker
    check makes the sink idempotent (the standard foreachBatch
    exactly-once recipe — Spark only guarantees at-least-once
    delivery to the batch function, the sink supplies the dedup).
    When the AvailableNow run drains, the union of committed batches
    is audited (row-count reconciliation against the source) and
    published as ONE atomic version via store/wap.py — readers never
    observe a half-ingested stream.

    Returns {"version", "rows", "batches"} for the published load.
    Scale: per-batch work is an append-only parquet write of that
    batch's rows; the final union read is metadata-only listing; the
    publish is an O(1) pointer swap regardless of history size.
    """
    from gerrydb_etl_spark.store.wap import VersionedTable

    stage = _stage_events_dir(sf_dir)
    ckpt = tempfile.mkdtemp(prefix="events_store_ckpt_")
    batches_root = tempfile.mkdtemp(prefix="events_store_batches_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = read_events_stream(
            spark, sf_dir, stage, max_files_per_trigger=max_files_per_trigger
        ).select("event_id", "ts", "user_id", "event_type", "value")

        q = (
            src.writeStream.foreachBatch(idempotent_batch_sink(batches_root))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        committed = sorted(
            os.path.join(batches_root, m[: -len(".committed")])
            for m in os.listdir(batches_root)
            if m.endswith(".committed")
        )
        if not committed:
            # zero micro-batches (empty source stream): a bare
            # spark.read.parquet(*[]) raises a confusing missing-path
            # error; fail with the actual condition instead of
            # publishing a phantom version.
            raise ValueError(
                "no micro-batches were committed — the source stream "
                f"produced no data under {stage!r}; nothing to publish"
            )
        ingested = spark.read.parquet(*committed)
        n_src = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

        def audit_counts(df: DataFrame) -> None:
            assert df.count() == n_src, "streamed rows != source rows"

        table = VersionedTable(spark, table_root)
        version = table.write(
            ingested, audits=[audit_counts], notes="streaming ingest"
        )
        return {
            "version": version,
            "rows": table.read().count(),
            "batches": len(committed),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(batches_root, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


# target compressed bytes per staged epoch FILE when auto-splitting
# (see _files_per_epoch): at driver bench scale every epoch stays a
# single file (identical staging to the pre-r17 harness), while a
# scaled corpus gets one file per ~2 MB so no single writer task
# serializes the whole epoch.
_EPOCH_FILE_BYTES = 2 << 20


def _files_per_epoch(
    spark: SparkSession, sf_dir: str, table: str, n_batches: int
) -> int:
    """Auto-scale how many files each staged epoch spans (VERDICT r16
    item 2): the single-file-per-epoch staging writes each epoch with
    ONE task by definition — an O(rows) serial term that belongs to
    the demo harness, not the stream. A production epoch spans many
    source files; mirroring that, each epoch is split into
    ceil(source_bytes / (n_batches * _EPOCH_FILE_BYTES)) files,
    capped at cluster parallelism. Unknown sizes (non-local sources)
    stay at 1."""
    from gerrydb_etl_spark.operators.partitioning import _input_bytes
    from gerrydb_etl_spark.sources.registry import load_table

    size = _input_bytes(load_table(spark, sf_dir, table))
    if not size:
        return 1
    per_epoch = size // n_batches
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            per_epoch // _EPOCH_FILE_BYTES,
        ),
    )


def _stage_key_range_batches(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key_col: str,
    prefix: str,
    n_batches: int = 4,
    files_per_batch: int = 1,
) -> str:
    """Stage ``table`` as ``n_batches`` micro-batch epochs of
    ``files_per_batch`` single-file parquets each, holding ascending
    ``key_col`` ranges. Every file of epoch i shares mtime t0+i and
    carries an ascending path name — the file stream source orders
    pending files by (modification time, path), so
    maxFilesPerTrigger=files_per_batch delivers each epoch's exact
    file set as one deterministic micro-batch in key order. Caller
    owns cleanup of the returned directory."""
    import glob as _glob
    import time

    from gerrydb_etl_spark.sources.registry import load_table

    df = load_table(spark, sf_dir, table)
    lo0, hi = df.agg(F.min(key_col), F.max(key_col)).first()
    if hi is None:
        raise ValueError(
            f"{table} table is empty — no micro-batches to stage "
            f"from {sf_dir!r}"
        )
    n_files = n_batches * files_per_batch
    width = max(1, (hi - lo0 + n_files) // n_files)
    stage = tempfile.mkdtemp(prefix=f"{prefix}_stream_")
    t0 = time.time() - 3600

    def _write_file(task: tuple[int, int]) -> None:
        i, j = task
        f = i * files_per_batch + j
        lo = lo0 + f * width
        up = lo0 + (f + 1) * width if f < n_files - 1 else hi + 1
        tmp = tempfile.mkdtemp(prefix=f"{prefix}_batch_")
        (
            df.where((F.col(key_col) >= lo) & (F.col(key_col) < up))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        name = (
            f"b{i:03d}.parquet"
            if files_per_batch == 1
            else f"b{i:03d}_{j:02d}.parquet"
        )
        dest = os.path.join(stage, name)
        shutil.move(part, dest)
        shutil.rmtree(tmp, ignore_errors=True)
        # all files of epoch i share one mtime: ordering across epochs
        # is by mtime, within an epoch by path — both deterministic
        os.utime(dest, (t0 + i, t0 + i))

    # the single-file writes are independent single-task jobs
    # (coalesce(1) serializes each one internally), so run them as
    # concurrent Spark jobs — the scheduler interleaves them across
    # cores, and the deterministic mtimes are set AFTER each move, so
    # completion order cannot perturb the file-source delivery order.
    # At x10 bench scale this halves the staging wall the streamed
    # queries carry (VERDICT r15 item 5); with files_per_batch > 1 it
    # also removes the one-writer-per-EPOCH serial term (VERDICT r16
    # item 2).
    from concurrent.futures import ThreadPoolExecutor

    tasks = [
        (i, j) for i in range(n_batches) for j in range(files_per_batch)
    ]
    with ThreadPoolExecutor(max_workers=min(16, len(tasks))) as pool:
        list(pool.map(_write_file, tasks))
    return stage


# The micro-batch epoch input directory of a source table: ascending
# key ranges with pinned mtime ordering, a deterministic INPUT
# arrangement of the source, so it is staged once per session like
# every fixture (per call it cost 0.45-0.70 s of harness writes per
# head at sf0.1, .scale/opt_r18_epochstage_share.json). Each query
# still runs its own stream with a fresh checkpoint over the files.
# Production analogue: the arriving files ARE the stream.
EPOCH_DIR = Fixture(
    "st_epochs_{prefix}_b{n_batches}_f{files_per_batch}_{code}_{fp}",
    ("{table}",),
    (_stage_key_range_batches,),
    lambda spark, sf_dir, **p: _stage_key_range_batches(spark, sf_dir, **p),
    directory=True,
)


def _stage_docs_batches(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """documents in ascending doc_id micro-batches (shared recipe)."""
    return _stage_key_range_batches(
        spark, sf_dir, "documents", "doc_id", "docs", n_batches
    )


# Loose per-epoch index files are folded into one bucketed compact
# generation once this many accumulate; per-batch index reads then
# touch O(COMPACT_EVERY + buckets) files forever, not O(B) batch dirs.
_INDEX_COMPACT_EVERY = 4
_INDEX_BUCKETS = 4


def _index_files(index_root: str, exclude_epoch: int | None = None) -> list[str]:
    """Parquet files making up the dedup index: compact-generation
    files plus loose per-epoch contributions. ``exclude_epoch`` drops
    the given epoch's own loose file — a crashed attempt may have
    written it before the commit marker, and the replay must not
    anti-join the batch against its own hashes."""
    if not os.path.isdir(index_root):
        return []
    skip = None if exclude_epoch is None else f"e_{exclude_epoch:06d}.parquet"
    return sorted(
        os.path.join(index_root, f)
        for f in os.listdir(index_root)
        if f.endswith(".parquet") and f != skip
    )


def _write_single_parquet(df: DataFrame, dest: str) -> None:
    """Write df as exactly one parquet file at ``dest`` (atomic
    os.replace), so a replayed epoch overwrites rather than
    duplicates its index contribution."""
    import glob as _glob

    tmp = tempfile.mkdtemp(prefix="idx_part_")
    try:
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        parts = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        if parts:  # an all-duplicates batch contributes no hashes
            os.replace(parts[0], dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _compact_index(spark: SparkSession, index_root: str, epoch: int) -> None:
    """Fold the PRIOR epochs' index files into one bucketed compact
    generation (``c_{epoch}_{bucket}.parquet``, hash-distributed on
    content_sha) and drop the loose files. Runs BEFORE epoch
    ``epoch`` writes its own contribution (and always excludes that
    epoch's loose file), so a compact generation never contains the
    current batch's hashes — a replay may therefore safely read it
    without anti-joining the batch against itself. Deterministic
    epoch-keyed names make a crashed-and-replayed compaction
    overwrite itself; a crash between writing the new generation and
    unlinking the old files leaves duplicate hashes in the index,
    which is harmless — the index is only ever the build side of an
    anti-join."""
    import glob as _glob

    old = _index_files(index_root, exclude_epoch=epoch)
    if not old:
        return
    merged = (
        spark.read.parquet(*old)
        .distinct()
        .repartition(_INDEX_BUCKETS, "content_sha")
    )
    tmp = tempfile.mkdtemp(prefix="idx_compact_")
    try:
        merged.write.mode("overwrite").parquet(tmp)
        for k, part in enumerate(
            sorted(_glob.glob(os.path.join(tmp, "part-*.parquet")))
        ):
            os.replace(
                part, os.path.join(index_root, f"c_{epoch:06d}_{k:03d}.parquet")
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # a crashed-then-replayed compaction re-reads its own c_{epoch}
    # files (they may hold hashes whose loose sources were already
    # unlinked) and rewrites them in place — don't unlink those
    keep = f"c_{epoch:06d}_"
    for f in old:
        if os.path.basename(f).startswith(keep):
            continue
        try:
            os.unlink(f)
        except FileNotFoundError:
            pass


def docs_dedup_sink(batches_root: str, index_root: str):
    """foreachBatch function for the streaming dedup ingest: keep the
    batch's first row per content_sha, anti-join the compacted index
    (the ONLY cross-batch state read — never the committed batch
    directories), write survivors to the epoch-keyed batch dir, then
    append the survivors' hashes to the index and write the commit
    marker. Every step is replay-idempotent (deterministic paths +
    marker-first check)."""
    from pyspark.sql.window import Window as W

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bdir = os.path.join(batches_root, f"b_{batch_id:06d}")
        marker = bdir + ".committed"
        if os.path.exists(marker):  # replayed epoch -> no-op
            return
        sp = batch_df.sparkSession
        w = W.partitionBy("content_sha").orderBy("doc_id")
        first = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        # cross-batch state = ONE index table read; a crashed
        # attempt's own loose file is excluded so the replay
        # never anti-joins the batch against itself
        prior_files = _index_files(index_root, exclude_epoch=batch_id)
        if prior_files:
            prior = sp.read.parquet(*prior_files).select("content_sha")
            first = first.join(prior, "content_sha", "left_anti")
        first.write.mode("overwrite").parquet(bdir)
        # compact BEFORE appending this epoch's hashes: compact
        # generations then only ever hold prior epochs' state
        loose = [
            f for f in prior_files if os.path.basename(f).startswith("e_")
        ]
        if len(loose) >= _INDEX_COMPACT_EVERY:
            _compact_index(sp, index_root, batch_id)
        # the index contribution re-reads the DURABLE batch dir (not
        # a cached/localCheckpoint'd plan — executor-resident blocks
        # vanish with a lost executor on a real cluster), so the
        # hashes entering the index are exactly the committed rows
        _write_single_parquet(
            sp.read.parquet(bdir).select("content_sha"),
            os.path.join(index_root, f"e_{batch_id:06d}.parquet"),
        )
        with open(marker, "w") as f:
            f.write(str(batch_id))

    return sink


def run_docs_dedup_ingest(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    n_batches: int = 4,
    work_dir: str | None = None,
    stage_dir: str | None = None,
) -> dict:
    """Streaming document ingest with CROSS-BATCH exact dedup into
    the versioned store — the production "recrawl arrives, keep only
    new content" pipeline as one streaming query:

    * the documents table streams in ``n_batches`` deterministic
      micro-batches (ascending doc_id ranges);
    * each batch keeps its first occurrence per content hash
      (batch-local window, per-sha groups are tiny), then anti-joins
      ONE compacted content_sha index table maintained alongside the
      commit markers — each epoch appends its survivors' hashes as a
      deterministically-named index file before writing its marker,
      and every _INDEX_COMPACT_EVERY epochs the loose files fold into
      a bucketed compact generation. Per-batch dedup I/O is therefore
      O(index), never O(B) committed-batch directories, and the state
      lives on disk, so a crashed-and-replayed epoch is a no-op and
      state survives driver restarts;
    * when the AvailableNow run drains, the union of committed
      survivors is audited (every content hash unique) and published
      as ONE atomic version (store/wap.py) — readers never see a
      half-deduped corpus.

    Because batches ascend in doc_id, keep-first-across-batches
    equals keep-min-doc_id globally — the sequential streaming fold
    collapses to an order-free rule a SQL oracle can state directly.

    Scale: per-batch work is one bounded window + one anti-join
    against the bucketed hash index (the incremental_exact_dedup
    shape from queries/corpus_stats.py, kept compacted so read cost
    stays flat over the stream's life); the publish is an O(1)
    pointer swap.
    """
    from gerrydb_etl_spark.store.wap import VersionedTable

    # ``work_dir`` makes the ingest RESTARTABLE: the checkpoint, the
    # committed-batch staging, and the source staging live in a
    # caller-owned directory that survives this call — a re-run with
    # the same work_dir resumes from the stream checkpoint (already-
    # processed files are not redelivered) and replayed epochs hit
    # the commit markers, so restarting after any crash reprocesses
    # nothing and publishes the identical survivor set. Without it,
    # everything lives in temp dirs removed on exit (the
    # self-contained query mode).
    # ``stage_dir`` (r18): optionally the session-persistent
    # pre-staged epoch directory (an EPOCH_DIR fixture) — the
    # per-call staging writes are skipped and the directory is
    # caller-owned (never removed here).
    owns_stage = stage_dir is None
    if work_dir is not None:
        os.makedirs(work_dir, exist_ok=True)
        ckpt = os.path.join(work_dir, "ckpt")
        batches_root = os.path.join(work_dir, "batches")
        os.makedirs(batches_root, exist_ok=True)
        index_root = os.path.join(work_dir, "index")
        os.makedirs(index_root, exist_ok=True)
        if stage_dir is not None:
            stage = stage_dir
        else:
            stage = os.path.join(work_dir, "stage")
            if not os.path.isdir(stage) or not os.listdir(stage):
                staged = _stage_docs_batches(spark, sf_dir, n_batches)
                shutil.rmtree(stage, ignore_errors=True)
                shutil.move(staged, stage)
        owns_dirs = False
    else:
        stage = (
            stage_dir
            if stage_dir is not None
            else _stage_docs_batches(spark, sf_dir, n_batches)
        )
        ckpt = tempfile.mkdtemp(prefix="docs_dedup_ckpt_")
        batches_root = tempfile.mkdtemp(prefix="docs_dedup_batches_")
        index_root = tempfile.mkdtemp(prefix="docs_dedup_index_")
        owns_dirs = True
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.schema(TABLE_SCHEMAS["documents"])
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        keyed = src.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("content_sha")
        )

        q = (
            keyed.writeStream.foreachBatch(
                docs_dedup_sink(batches_root, index_root)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        committed = sorted(
            os.path.join(batches_root, m[: -len(".committed")])
            for m in os.listdir(batches_root)
            if m.endswith(".committed")
        )
        if not committed:
            raise ValueError(
                "no micro-batches were committed — the documents stream "
                f"produced no data under {stage!r}; nothing to publish"
            )
        survivors = spark.read.parquet(*committed)

        def audit_unique(df: DataFrame) -> None:
            n, d = df.agg(
                F.count("*"), F.countDistinct("content_sha")
            ).first()
            assert n == d, f"duplicate content published: {n} rows, {d} hashes"

        table = VersionedTable(spark, table_root)
        version = table.write(
            survivors, audits=[audit_unique], notes="streaming dedup ingest"
        )
        return {"version": version, "batches": len(committed)}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if owns_dirs:
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(batches_root, ignore_errors=True)
            shutil.rmtree(index_root, ignore_errors=True)
            if owns_stage:
                shutil.rmtree(stage, ignore_errors=True)


def _stage_emb_batches(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """embeddings in ascending vec_id micro-batches (shared recipe)."""
    return _stage_key_range_batches(
        spark, sf_dir, "embeddings", "vec_id", "emb", n_batches
    )


def run_stream_vector_index(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_cells: int = 16,
    iters: int = 2,
    n_batches: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming IVF vector-index maintenance: new embedding vectors
    arrive in micro-batches and are assigned to their coarse cell
    ONLINE against a pre-trained quantizer (the production split:
    the k-means model trains offline — store/staging.py's staged
    IVF fixture here — while ingestion is a narrow per-batch
    projection with literal centroids, no training in the hot
    path). Each epoch appends its (vec_id, cell) rows to a
    cell-partitioned parquet index under an epoch-idempotent commit
    marker (the standard foreachBatch exactly-once recipe), so a
    replayed batch is a no-op and a restart resumes — the streamed
    index provably equals the batch-built one.

    Returns the final index assignment (vec_id, cell). ``work_dir``
    is caller-owned (pass the same one to resume/restart).

    100 TB: per-batch work is one literal-centroid projection + an
    append of that batch's rows into its cell partitions; the cell
    layout is exactly what ivf_topk's probe join prunes on, so the
    index is queryable mid-stream with no rebuild."""
    from gerrydb_etl_spark.operators.kmeans import assign, quantize
    from gerrydb_etl_spark.operators.partitioning import fan_out

    _, centroids = IVF.read(spark, sf_dir, n_cells=n_cells, iters=iters)

    if stage_dir is not None:
        # session-persistent pre-staged epochs (r18) — caller-owned
        stage = stage_dir
    else:
        stage = os.path.join(work_dir, "stage")
        if not os.path.isdir(stage):
            staged = _stage_emb_batches(spark, sf_dir, n_batches)
            shutil.move(staged, stage)
    ckpt = os.path.join(work_dir, "ckpt")
    index_root = os.path.join(work_dir, "index")
    os.makedirs(index_root, exist_ok=True)

    schema = (
        spark.read.parquet(os.path.join(stage, "b000.parquet")).schema
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        edir = os.path.join(index_root, f"epoch-{batch_id:06d}")
        marker = edir + ".committed"
        if os.path.exists(marker):  # replayed epoch -> no-op
            return
        # fan the epoch's rows out to cluster parallelism before the
        # compute-heavy narrow assign: a micro-batch delivered as ONE
        # file otherwise runs the literal-centroid fold on the file's
        # few natural splits regardless of core count — the measured
        # x10 slope driver (SCALE_r15 3.15x; VERDICT r15 item 5). At
        # production scale an epoch spans many files and fan_out
        # no-ops (same gate as the batch training paths). The
        # repartition("cell") BETWEEN compute and write matters as
        # much: the fold runs on the fanned partitions map-side, then
        # one exchange compacts each cell into one writer task —
        # without it every fanned partition opens a file per cell it
        # touches (32 x cells small files per epoch; measured 27.7s
        # vs 7.5s at the x10 point, a 5.01x slope from file-commit
        # overhead alone).
        assigned = (
            assign(quantize(fan_out(batch_df)), centroids)
            .select("vec_id", F.col("cluster_id").alias("cell"))
            .repartition("cell")
        )
        assigned.write.mode("overwrite").partitionBy("cell").parquet(edir)
        with open(marker, "w") as f:
            f.write(str(batch_id))

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)

    committed = sorted(
        os.path.join(index_root, m[: -len(".committed")])
        for m in os.listdir(index_root)
        if m.endswith(".committed")
    )
    if not committed:
        raise ValueError(
            "no micro-batches were committed — the embeddings stream "
            f"produced no data under {stage!r}"
        )
    # each epoch dir is its own cell-partitioned root, so read them
    # individually and union (metadata-only listing; a production
    # index would share one root with epoch as a second partition
    # column)
    from functools import reduce

    return reduce(
        DataFrame.unionByName, [spark.read.parquet(d) for d in committed]
    )


def _stage_orders_batches(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    files_per_batch: int = 1,
) -> str:
    """orders in ascending o_orderkey micro-batches (shared recipe)."""
    return _stage_key_range_batches(
        spark, sf_dir, "orders", "o_orderkey", "orders", n_batches,
        files_per_batch,
    )


def run_stream_checksum(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    digest: Callable[[DataFrame], DataFrame],
    n_batches: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming anti-entropy checksum maintenance: order rows arrive
    in micro-batches; each epoch reduces ITS rows to per-bucket
    (n, xor-of-row-signature) partials via ``digest`` and commits
    them under an epoch-idempotent marker (replayed batch = no-op,
    restart resumes). The running table state is the bucket-wise
    merge of all committed partials — XOR and COUNT are the
    mergeable-sketch pair that makes the checksum INCREMENTALLY
    maintainable, which is the property bucket_checksum_diff's
    docstring claims and this stream proves: the merged streamed
    checksums must equal the batch-computed ones bit for bit.

    100 TB: per-epoch work is one narrow map + a buckets-sized
    partial aggregate; the merge reads O(epochs x buckets) partial
    rows, never any data row twice. A production deployment compacts
    partials exactly like _compact_index compacts the dedup index.

    Epochs are staged as _files_per_epoch files each (1 at driver
    bench scale; more for scaled corpora, so no single writer task
    serializes an epoch — VERDICT r16 item 2), delivered whole via
    maxFilesPerTrigger = files-per-epoch. ``stage_dir`` (r18):
    optionally a pre-staged epoch directory (the session-persistent
    EPOCH_DIR fixture) — the per-call staging writes
    are then skipped entirely and the directory is caller-owned."""
    files_per_batch = _files_per_epoch(spark, sf_dir, "orders", n_batches)
    if stage_dir is not None:
        stage = stage_dir
    else:
        stage = os.path.join(work_dir, "stage")
        if not os.path.isdir(stage):
            staged = _stage_orders_batches(
                spark, sf_dir, n_batches, files_per_batch
            )
            shutil.move(staged, stage)
    ckpt = os.path.join(work_dir, "ckpt")
    parts_root = os.path.join(work_dir, "partials")
    os.makedirs(parts_root, exist_ok=True)

    first = sorted(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )[0]
    schema = spark.read.parquet(os.path.join(stage, first)).schema

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        edir = os.path.join(parts_root, f"epoch-{batch_id:06d}")
        marker = edir + ".committed"
        if os.path.exists(marker):  # replayed epoch -> no-op
            return
        # fan the epoch's rows out to cluster parallelism before the
        # compute-heavy narrow digest (the portable per-char row-
        # signature fold): a micro-batch delivered as ONE file
        # otherwise folds on the file's few natural splits regardless
        # of core count — the measured x10 slope driver (SCALE_r15
        # 4.18x; VERDICT r15 item 5). Values unaffected: the digest
        # pair (COUNT, XOR) is combine-order-free by construction. At
        # production scale an epoch spans many files and fan_out
        # no-ops.
        from gerrydb_etl_spark.operators.partitioning import fan_out

        digest(fan_out(batch_df)).write.mode("overwrite").parquet(edir)
        with open(marker, "w") as f:
            f.write(str(batch_id))

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_batch)
            .parquet(stage)
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)

    committed = sorted(
        os.path.join(parts_root, m[: -len(".committed")])
        for m in os.listdir(parts_root)
        if m.endswith(".committed")
    )
    if not committed:
        raise ValueError(
            "no micro-batches were committed — the orders stream "
            f"produced no data under {stage!r}"
        )
    from functools import reduce

    partials = reduce(
        DataFrame.unionByName, [spark.read.parquet(d) for d in committed]
    )
    return (
        partials.groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.expr("bit_xor(x)").alias("checksum"),
        )
    )
