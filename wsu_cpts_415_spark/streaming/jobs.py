"""Streaming jobs over the events table.

Design: every streaming transformation here is written against a plain
DataFrame, so the SAME function serves batch and streaming -- the batch
registry queries (queries/events.py) are the correctness oracle, and the
tests assert stream-vs-batch equivalence under trigger(availableNow) (the
replay-the-history mode: process everything available, then stop).

Scale notes: watermarks bound state (late rows older than the watermark
are dropped instead of keeping every window open forever); session windows
use Spark's native session_window (state-store backed, merge-on-update);
the custom stateful operator uses applyInPandasWithState with an explicit
timeout so abandoned keys are evicted.  File-source streaming reads are
per-file splits -- the parquet fixture replays exactly like a kafka topic
with maxFilesPerTrigger batching.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from wsu_cpts_415_spark.io.tables import events_ts_read_plan
from wsu_cpts_415_spark.schemas import EVENTS, EVENTS_RAW

WATERMARK = "1 day"
SESSION_GAP = "30 minutes"


def read_events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source streaming read of the events fixture (one-file 'topic').

    Same magnitude-adaptive timestamp repair as the batch loader
    (io/tables.py); maxFilesPerTrigger=1 keeps replay deterministic.
    Queries whose OUTPUT is batch-slicing invariant (e.g. the
    within-watermark dedup, whose duplicates co-arrive by construction)
    may pass a larger ``files_per_trigger``: each micro-batch pays a
    fixed state-store commit, so on an N-file fixture the 1-file trigger
    runs N commits where one would do -- the x10 probe measured that as
    a 5x wall hit before this knob existed."""
    # glob (not bare file path): the file stream source requires its
    # basePath to be a directory, and the deepest non-glob ancestor of
    # "events.*" is sf_dir
    mode, conv = events_ts_read_plan(f"{sf_dir}/events.parquet")
    if mode == "raw":
        raw = (
            spark.readStream.schema(EVENTS_RAW)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(f"{sf_dir}/events.*")
        )
        return raw.withColumn("ts", conv)
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(f"{sf_dir}/events.*")
    )


# --- transformations (batch/stream agnostic) -------------------------------


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-day, per-event-type tumbling window aggregate with watermark
    (the streaming form of queries/events.py window_tumbling)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.to_date("w.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregates(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-min gap) with watermark -- Spark's
    native session_window operator, state-store merged."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# --- custom stateful operator (applyInPandasWithState) ---------------------

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _accumulate_user(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user event count + value total.  State is a pair of
    scalars per key -- bounded, Arrow-batched, no per-row Python calls."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, float(total)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary-stateful streaming aggregate: cumulative per-user totals
    via applyInPandasWithState (update mode).  The built-in groupBy.agg
    could express this particular fold; the operator exists to carry the
    engine's custom-stateful surface (SURVEY.md §7.2 P6) -- replace the
    fold body for sessionization-with-rules, CEP, or decay counters."""
    return events.groupBy("user_id").applyInPandasWithState(
        _accumulate_user,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- runner -----------------------------------------------------------------


# State-store width for the registry's streaming runs.  Stateful
# streaming creates one state store instance PER shuffle partition per
# stateful operator; production jobs size this to the stream's volume
# deliberately (it is pinned into the checkpoint at first run),
# decoupled from the batch engine's shuffle width.  The fixture streams
# are one-file topics -- 8 stores cut per-query state setup ~2.5x vs
# inheriting the batch width of 32 (measured: stream-stream join 7.0 s
# -> 2.75 s at sf0.1) while leaving results bit-identical.
STREAM_SHUFFLE_PARTITIONS = 8


def _aggregates_over_watermark(plan, under_aggregate: bool = False) -> bool:
    """Whether the (JVM) logical ``plan`` has an EventTimeWatermark below
    an Aggregate."""
    name = plan.nodeName()
    if under_aggregate and name == "EventTimeWatermark":
        return True
    under_aggregate = under_aggregate or name == "Aggregate"
    children = plan.children()
    return any(
        _aggregates_over_watermark(children.apply(i), under_aggregate)
        for i in range(children.size())
    )


def run_available_now(stream_df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Materialize a streaming DataFrame with trigger(availableNow): process
    the full backlog, then stop.  Returns the in-memory sink contents.

    The shuffle-partition conf is scoped to the query's start (fresh
    temp checkpoint each call, so the width is never fighting a pinned
    checkpoint) and restored afterwards.

    No-data micro-batches are disabled for these bounded replays (r13,
    guide §5): after the last data batch, availableNow otherwise runs
    one more empty batch purely to advance the watermark -- whose only
    effects are evicting state a terminating query is about to discard
    and, in complete mode, re-emitting the identical sink table.  Every
    registry stream emits its results on DATA batches (complete/update
    re-emit full/changed state per batch; the append shapes -- inner
    stream-stream join, within-watermark dedup -- emit rows as they
    match/arrive, never on watermark advance), so skipping the empty
    batch cannot change the sink contents; it removes one full
    state-store commit + offset/commit-log round per query (measured
    -26% over 5 streaming shapes in round 13).
    The one shape that does emit on watermark advance -- an append-mode
    aggregation over an event-time watermark, whose final windows close
    only on that empty batch -- would silently lose them here, so it is
    refused with ``ValueError`` (read off the analyzed plan).
    A STANDING stream (``run_foreach_batch``) keeps the default: there,
    eager state cleanup between lulls is the point."""
    if output_mode == "append" and _aggregates_over_watermark(
        stream_df._jdf.queryExecution().analyzed()
    ):
        raise ValueError(
            f"{name}: an append-mode aggregation over an event-time "
            "watermark emits its final windows only on a no-data "
            "micro-batch, which run_available_now skips; use complete "
            "or update mode"
        )
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )
    spark.conf.set(nodata_key, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(nodata_key, prev_nodata)
    return stream_df.sparkSession.table(name)


# --- the exactly-once foreachBatch protocol -------------------------------
#
# Every standing stream (the parquet sink, the rollup maintainer, the
# dedup and boilerplate gates) pairs a replayable source with a sink
# that is idempotent by batch id: each micro-batch lands in its own
# ``_batch=<id>`` partition of every store it writes, by DYNAMIC
# partition overwrite.  foreachBatch is at-least-once -- a batch whose
# body ran but whose checkpoint commit did not is replayed on restart --
# and the replay rewrites its own partitions instead of appending a
# duplicate (a plain append would double-apply; the failure-injection
# tests in tests/test_streaming.py, test_streaming_ingest.py and
# test_line_gate.py prove the difference).  A replay that now writes
# nothing drops the partitions its earlier attempt left
# (``drop_batch``), since an overwrite with zero rows touches nothing.


def write_batch(df: DataFrame, batch_id: int, base_dir: str) -> None:
    """Write ``df`` as the ``_batch=<batch_id>`` partition of
    ``base_dir`` by dynamic partition overwrite: a replay rewrites the
    partition (and wipes any partial files a crashed write left there)
    instead of appending to it."""
    (
        df.withColumn("_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(base_dir)
    )


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem API
    (works on any scheme the session can write; runs no Spark job).  The
    session keeps the ``Path`` class and the Hadoop configuration after
    its first call: resolving the class package by package costs a Py4J
    round trip per name, so a warm ``path_exists`` makes three (build
    the ``Path``, get its FileSystem, ask it) instead of nine."""
    hadoop = getattr(spark, "_graft_hadoop", None)
    if hadoop is None:
        hadoop = spark._graft_hadoop = (
            spark._jvm.org.apache.hadoop.fs.Path,
            spark._jsc.hadoopConfiguration(),
        )
    path_cls, conf = hadoop
    jpath = path_cls(path)
    return jpath.getFileSystem(conf), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_path(spark, path)
    return fs.exists(jpath)


def drop_batch(spark: SparkSession, base_dir: str, batch_id: int) -> None:
    """Remove a ``_batch=<id>`` partition directory if it exists."""
    fs, path = _hadoop_path(spark, f"{base_dir}/_batch={batch_id}")
    if fs.exists(path):
        fs.delete(path, True)


def run_foreach_batch(
    stream_df: DataFrame,
    body: Callable[[DataFrame, int], object],
    checkpoint_dir: str,
    on_batch_end: Callable[[int], object] | None = None,
) -> StreamingQuery:
    """Run ``body(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` with trigger(availableNow) under ``checkpoint_dir``,
    and return the finished query (its ``recentProgress`` holds one
    entry per micro-batch).  ``body`` must be idempotent by batch id
    (``write_batch``).

    ``on_batch_end(batch_id)`` fires after the body and BEFORE the
    checkpoint commits the batch -- the failure-injection seam (raise
    there to simulate dying mid-commit) and a metrics hook."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, batch_id)
        if on_batch_end is not None:
            on_batch_end(batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Streaming -> storage: each micro-batch lands in its own
    ``_batch=<n>`` partition of ``out_dir`` (``write_batch``), so a
    replayed batch overwrites itself.  This is the S9-sink analog for
    streams; swap the body for MERGE INTO on a lakehouse table format."""
    return run_foreach_batch(
        stream_df,
        lambda batch_df, batch_id: write_batch(batch_df, batch_id, out_dir),
        checkpoint_dir,
    )


def apply_rollup_batch(
    batch_df: DataFrame, batch_id: int, events_dir: str, rollup_dir: str
) -> None:
    """Idempotent per-batch body of the rollup maintainer: land the batch
    in its own ``_batch=<n>`` events-store partition (``write_batch``),
    then re-roll only the days the batch touches from the FULL store.
    Both steps are replay-idempotent: the day recompute reads the store,
    so applying the same batch twice converges to the same rollup rows."""
    from wsu_cpts_415_spark.io.maintenance import refresh_daily_rollup

    spark = batch_df.sparkSession
    batch_df.persist()
    try:
        write_batch(batch_df, batch_id, events_dir)
        refresh_daily_rollup(spark, events_dir, rollup_dir, batch_df)
    finally:
        batch_df.unpersist()


def stream_maintain_rollup(
    stream_df: DataFrame,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    on_batch_end=None,
) -> StreamingQuery:
    """Streaming continuous-aggregate maintenance: each micro-batch lands
    in the events store and only its touched days are re-rolled and
    upserted (io.maintenance.refresh_daily_rollup).  The streaming face
    of the hypertable-rollup pattern -- state lives in the store, not
    the stream, and exactly-once comes from the idempotent-by-batch-id
    sink (apply_rollup_batch) under the checkpoint's replay bookkeeping.
    ``on_batch_end`` is ``run_foreach_batch``'s seam."""
    return run_foreach_batch(
        stream_df,
        lambda batch_df, batch_id: apply_rollup_batch(
            batch_df, batch_id, events_dir, rollup_dir
        ),
        checkpoint_dir,
        on_batch_end,
    )


def seasonal_alerts(
    events_stream: DataFrame, expected: DataFrame, spread: DataFrame
) -> DataFrame:
    """Stream-static seasonal anomaly alerts: daily volumes from the
    stream joined to the (static, 7-row broadcast) weekday-mean table
    and the 1-row residual spread, flagged at |z| > 2.

    The static sides come from the batch seasonal model (the same
    expected/spread the batch query computes); in production they are a
    periodically-refreshed model table, exactly the stream-static
    enrichment pattern.  State is bounded by the watermark on the daily
    window; the join adds no state (static side is a broadcast)."""
    daily = (
        events_stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.to_date("w.start").alias("d"), "n")
        .withColumn(
            "dow",
            (F.datediff("d", F.lit("1970-01-01")) % 7).cast("bigint"),
        )
    )
    return (
        daily.join(F.broadcast(expected), "dow")
        .crossJoin(F.broadcast(spread))
        .withColumn("r", F.col("n") - F.col("dow_mean"))
        .filter(F.abs(F.col("r") / F.col("s")) > 2.0)
        .select(
            "d",
            "n",
            F.round("dow_mean", 4).alias("expected_n"),
            F.round(F.col("r") / F.col("s"), 4).alias("z"),
        )
    )


_CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("error_ts", T.TimestampType()),
        T.StructField("purchase_ts", T.TimestampType()),
        T.StructField("gap_seconds", T.DoubleType()),
    ]
)

_CEP_STATE_SCHEMA = T.StructType(
    [T.StructField("last_purchase_us", T.LongType())]
)


def _detect_error_after_purchase(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """CEP kernel: per user, emit every 'error' event that lands within
    10 minutes of the most recent 'purchase'.  State is ONE integer per
    key (the last purchase timestamp) -- the bounded-state property
    every CEP rule needs.  Events are processed in event-time order
    within the batch (sorted here; across batches the file-source
    replay preserves arrival order)."""
    (last_purchase_us,) = state.get if state.exists else (None,)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, etype in zip(pdf["ts"], pdf["event_type"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if etype == "purchase":
                last_purchase_us = ts_us
            elif etype == "error" and last_purchase_us is not None:
                gap = (ts_us - last_purchase_us) / 1_000_000.0
                if 0 <= gap <= 600:
                    out.append(
                        (
                            key[0],
                            pd.Timestamp(ts),
                            pd.Timestamp(last_purchase_us * 1000),
                            round(gap, 4),
                        )
                    )
    state.update((last_purchase_us,))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "error_ts", "purchase_ts", "gap_seconds"]
        )


def cep_error_after_purchase(events: DataFrame) -> DataFrame:
    """Complex-event-processing operator: the 'error within 10 minutes
    of a purchase' alert stream, via applyInPandasWithState (update
    mode, one scalar of state per user)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _detect_error_after_purchase,
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
