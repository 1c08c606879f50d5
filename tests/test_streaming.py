"""Stream-vs-batch equivalence: the same transformations produce identical
results under trigger(availableNow) streaming as in batch (replay mode),
and the custom stateful operator's final state matches a batch groupBy."""

from __future__ import annotations

import threading

import pytest
from py4j import protocol

from tests.conftest import SF_SMOKE
from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.streaming.jobs import (
    path_exists,
    read_events_stream,
    run_available_now,
    running_user_totals,
    session_aggregates,
    tumbling_counts,
)


def _rows(df, key_cols):
    return sorted(
        (tuple(r[c] for c in key_cols) for r in df.collect()),
    )


def test_tumbling_stream_equals_batch(spark):
    batch = tumbling_counts(load_table(spark, SF_SMOKE, "events"))
    stream = run_available_now(
        tumbling_counts(read_events_stream(spark, SF_SMOKE)), "t_tumbling"
    )
    cols = ["day", "event_type", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_session_stream_equals_batch(spark):
    batch = session_aggregates(load_table(spark, SF_SMOKE, "events"))
    stream = run_available_now(
        session_aggregates(read_events_stream(spark, SF_SMOKE)), "t_sessions"
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "session_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stateful_running_totals(spark):
    from pyspark.sql import functions as F

    stream = run_available_now(
        running_user_totals(read_events_stream(spark, SF_SMOKE)),
        "t_user_totals",
        output_mode="update",
    )
    # update-mode memory sink may hold several updates per key; the LAST
    # update per user must equal the batch fold
    final = (
        stream.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    cols = ["user_id", "n_events"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Incremental-source contract: with a persistent checkpoint, a second
    availableNow run ingests ONLY files that arrived after the first run,
    and the complete-mode result equals the batch answer over all files."""
    import shutil

    from pyspark.sql import functions as F
    from wsu_cpts_415_spark.schemas import EVENTS_RAW

    from wsu_cpts_415_spark.io.tables import (
        epoch_int64_to_timestamp,
        events_ts_read_plan,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "f1.parquet")

    # the fixture's physical unit varies by round (ns or us); the
    # magnitude-adaptive conversion is unit-proof, but the 60-day shift
    # below must still be expressed in the file's raw unit
    raw = events_ts_read_plan(f"{SF_SMOKE}/events.parquet")[0] == "raw"
    per_us = 1000 if raw else 1

    def run_once(name):
        raw = (
            spark.readStream.schema(EVENTS_RAW)
            .parquet(f"{src}/*.parquet")
            .withColumn("ts", epoch_int64_to_timestamp("ts"))
        )
        q = (
            tumbling_counts(raw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows_in = sum(p["numInputRows"] for p in q.recentProgress)
        return spark.table(name), rows_in

    _, n1 = run_once("ckpt_run1")
    base = load_table(spark, SF_SMOKE, "events")
    assert n1 == base.count()

    # a second batch of events "arrives": same raw int64 shape as the
    # fixture (whatever its unit), shifted ids/time
    raw_base = spark.read.schema(EVENTS_RAW).parquet(f"{SF_SMOKE}/events.parquet")
    batch2_raw = raw_base.withColumn(
        "event_id", F.col("event_id") + 1_000_000
    ).withColumn("ts", F.col("ts") + F.lit(60 * 86400 * 10**6 * per_us))
    batch2 = batch2_raw.withColumn("ts", epoch_int64_to_timestamp("ts"))
    n2_rows = batch2.count()
    batch2_raw.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = next((tmp_path / "stage").glob("part-*.parquet"))
    shutil.copy(part, src / "f2.parquet")

    out2, n2 = run_once("ckpt_run2")
    assert n2 == n2_rows, "resume must read only the new file"
    both = tumbling_counts(base.unionByName(batch2))
    cols = ["day", "event_type", "n_events", "sum_value"]
    assert _rows(out2, cols) == _rows(both, cols)


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """Streaming foreachBatch sink: parquet output equals the batch read,
    and a rerun with the same checkpoint appends nothing (exactly-once)."""
    from wsu_cpts_415_spark.streaming.jobs import stream_to_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = read_events_stream(spark, SF_SMOKE)
    stream_to_parquet(ev, out, ckpt)
    batch = load_table(spark, SF_SMOKE, "events")
    got = spark.read.parquet(out)
    assert got.count() == batch.count()
    assert set(got.columns) == set(batch.columns) | {"_batch"}
    # replay with same checkpoint: no new input -> no new rows
    stream_to_parquet(read_events_stream(spark, SF_SMOKE), out, ckpt)
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_maintained_rollup_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    """foreachBatch + incremental rollup refresh: after streaming the
    events source into a store, the continuously-maintained daily rollup
    equals the batch recompute over everything that arrived."""
    from wsu_cpts_415_spark.streaming.jobs import stream_maintain_rollup

    events_dir = str(tmp_path / "events_store")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    stream_maintain_rollup(
        read_events_stream(spark, SF_SMOKE), events_dir, rollup_dir, ckpt
    )
    got = sorted(tuple(r) for r in spark.read.parquet(rollup_dir).collect())
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(events_dir)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert got == want
    # replay with the same checkpoint: nothing new arrives, rollup unchanged
    stream_maintain_rollup(
        read_events_stream(spark, SF_SMOKE), events_dir, rollup_dir, ckpt
    )
    assert (
        sorted(tuple(r) for r in spark.read.parquet(rollup_dir).collect())
        == got
    )


def test_session_aggregates_under_rocksdb_state_store(spark, tmp_path):
    """The production state-store backend (RocksDB, bundled with Spark 4)
    must produce byte-identical session aggregates to the default HDFS
    state store -- the config an actual 100 TB streaming deployment
    flips for large state."""
    from pyspark.sql import functions as F
    from wsu_cpts_415_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        session_aggregates,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = run_available_now(
            session_aggregates(read_events_stream(spark, SF_SMOKE)),
            "q_sessions_rocksdb",
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    default = run_available_now(
        session_aggregates(read_events_stream(spark, SF_SMOKE)),
        "q_sessions_default_store",
    ).collect()
    assert sorted(map(tuple, rocks)) == sorted(map(tuple, default))
    assert len(rocks) > 0


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_rollup_survives_midbatch_kill(spark, tmp_path, provider):
    """Failure injection: the query dies AFTER the sink body ran but
    BEFORE the checkpoint committed the batch -- the exact window where
    an append-based sink double-applies on replay.  Restarting from the
    checkpoint must replay the batch into the same _batch partition
    (idempotent overwrite), leaving the events store duplicate-free and
    the rollup equal to the batch recompute.  Runs under both the
    default HDFS-backed state store and RocksDB."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.streaming.jobs import (
        read_events_stream,
        stream_maintain_rollup,
    )

    events_dir = str(tmp_path / "events_store")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    boom = {"armed": True}

    def injector(batch_id: int) -> None:
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected mid-batch failure")

    try:
        with pytest.raises(Exception, match="injected"):
            stream_maintain_rollup(
                read_events_stream(spark, SF_SMOKE),
                events_dir,
                rollup_dir,
                ckpt,
                on_batch_end=injector,
            )
        # the sink body DID run before the kill: data landed, batch uncommitted
        assert spark.read.parquet(events_dir).count() > 0
        # restart from the checkpoint: the uncommitted batch replays
        stream_maintain_rollup(
            read_events_stream(spark, SF_SMOKE), events_dir, rollup_dir, ckpt
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    src = load_table(spark, SF_SMOKE, "events")
    stored = spark.read.parquet(events_dir)
    assert stored.count() == src.count(), "replayed batch was double-applied"
    got = sorted(tuple(r) for r in spark.read.parquet(rollup_dir).collect())
    want = sorted(
        tuple(r)
        for r in src.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert got == want


def test_watermark_drops_late_rows_and_reports_metric(spark, tmp_path):
    """Watermark semantics end-to-end, including the TWO-WATERMARK model
    (SPARK-40925): the late-events filter uses the watermark as of the
    PREVIOUS batch, one batch behind the eviction watermark shown in
    progress -- so the late row is planted two batches after the on-time
    rows that advanced the watermark.  It must be EXCLUDED from the
    update-mode aggregate and the state operator must report it via
    numRowsDroppedByWatermark, the observability contract a production
    late-data monitor reads (probe-verified: a late row one batch after
    its watermark-advancer is still admitted under the lagging filter)."""
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "late_src"
    src.mkdir()
    schema = (
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string"
    )

    def write_file(name, rows):
        df = spark.createDataFrame(rows, schema).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.parquet(str(src / name))
        _time.sleep(1.1)  # file-source ordering is by modification time
        return df.schema

    read_schema = write_file(
        "f1", [(1, "2024-03-10 12:00:00", 7, "click", 1.0, None)]
    )
    write_file("f2", [(2, "2024-03-10 13:00:00", 8, "view", 1.0, None)])
    write_file("f3", [(3, "2024-03-01 00:00:00", 7, "click", 1.0, None)])

    stream = (
        spark.readStream.schema(read_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    rows = spark.table("t_late_drop").collect()
    days = sorted(r["w"]["start"].day for r in rows)
    assert dropped == 1, f"expected 1 watermark-dropped row, got {dropped}"
    assert days == [10, 10], f"late March-1 row leaked into results: {days}"


def test_path_exists_makes_three_gateway_round_trips(spark, tmp_path, monkeypatch):
    """A warm ``path_exists`` builds the Hadoop ``Path``, gets its
    FileSystem and asks it: three Py4J round trips.  Resolving
    ``org.apache.hadoop.fs.Path`` package by package and fetching the
    Hadoop configuration on every call made nine."""
    client = spark.sparkContext._gateway._gateway_client
    send, caller, sent = client.send_command, threading.get_ident(), []
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        # this thread's commands only: py4j's finalizer thread sends the
        # deletes of collected proxies whenever it runs
        if threading.get_ident() == caller and not command.startswith(delete):
            sent.append(command)
        return send(command, *args, **kwargs)

    path_exists(spark, str(tmp_path))  # warm
    monkeypatch.setattr(client, "send_command", counting)
    assert path_exists(spark, str(tmp_path))
    assert not path_exists(spark, str(tmp_path / "missing"))
    monkeypatch.undo()
    assert len(sent) == 2 * 3
