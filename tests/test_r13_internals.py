"""Focused contracts for the r13 optimization internals:

* ``run_available_now`` scopes noDataMicroBatches=false to the replay
  and RESTORES the session value (a standing stream started after a
  registry replay must keep its configured behavior);
* the streaming replay still matches its batch twin with the no-data
  batch skipped (semantic pin for the -20% A/B win), and the one shape
  that needs the no-data batch -- an append-mode aggregation over a
  watermark -- is refused instead of silently emitting nothing;
* the staged_model folds (zipf routing count, semdedup centroids,
  cosine query vector) run ZERO Spark jobs on a steady-state second
  call -- the multi-action sweep's contract;
* gate-memo hits reuse ONE persisted frame per site instead of
  re-persisting per call (the release list stays bounded), and never
  hand a caller another plan's frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_during

SF = "/root/testdata/sf0.001"

NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_run_available_now_restores_nodata_conf(spark):
    from wsu_cpts_415_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        tumbling_counts,
    )

    spark.conf.set(NODATA_KEY, "true")
    out = run_available_now(
        tumbling_counts(read_events_stream(spark, SF)),
        "t_r13_nodata_restore",
    )
    assert out.count() > 0
    assert spark.conf.get(NODATA_KEY) == "true"


def test_streaming_replay_matches_batch_without_nodata_batch(spark):
    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        tumbling_counts,
    )

    got = sorted(
        map(
            tuple,
            run_available_now(
                tumbling_counts(read_events_stream(spark, SF)),
                "t_r13_nodata_equiv",
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            tumbling_counts(load_table(spark, SF, "events")).collect(),
        )
    )
    assert got == want


def test_run_available_now_refuses_append_watermark_aggregation(spark):
    from wsu_cpts_415_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        tumbling_counts,
    )

    spark.conf.set(NODATA_KEY, "true")
    with pytest.raises(ValueError, match="no-data micro-batch"):
        run_available_now(
            tumbling_counts(read_events_stream(spark, SF)),
            "t_r13_append_wm_agg",
            output_mode="append",
        )
    # refused before the replay touches the session
    assert spark.conf.get(NODATA_KEY) == "true"


def test_append_mode_without_aggregation_still_replays(spark):
    from wsu_cpts_415_spark.queries.streaming_q import (
        streaming_stream_stream_join,
    )

    assert streaming_stream_stream_join(spark, SF).count() > 0


def test_staged_model_folds_run_zero_jobs_when_warm(spark):
    from wsu_cpts_415_spark.queries.semdedup import semdedup_prune
    from wsu_cpts_415_spark.queries.similarity2 import cosine_topk_pandas
    from wsu_cpts_415_spark.queries.text import zipf_slope

    for fn in (zipf_slope, semdedup_prune, cosine_topk_pandas):
        fn(spark, SF)  # warm the memo (runs the training action once)
    for fn, name in [
        (zipf_slope, "zipf"),
        (semdedup_prune, "semdedup"),
        (cosine_topk_pandas, "cosq"),
    ]:
        n = jobs_during(
            spark, f"r13-fold-audit-{name}", lambda: fn(spark, SF)
        )
        assert n == 0, f"{name}: {n} build-phase jobs on a warm call"


def test_gate_memo_hit_reuses_one_persisted_frame(spark):
    from wsu_cpts_415_spark.ops import staging

    staging.clear_staged()
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    key = ("r13_gate_persist_probe", SF)
    try:
        for _ in range(3):
            staging.maybe_broadcast(
                df, 10_000, persist_input=True, stats_key=key
            )
        assert len(staging._TRACKED) == 1, (
            f"expected one tracked persist for the site, got "
            f"{len(staging._TRACKED)}"
        )
    finally:
        staging.clear_staged()


def test_gate_memo_never_hands_back_another_plans_frame(spark):
    """Two different frames under one ``stats_key``: the memo may reuse
    the first frame's (rows, bytes), but each call must return the rows
    of the frame it was given."""
    from wsu_cpts_415_spark.ops.staging import clear_staged, maybe_broadcast

    clear_staged()
    key = ("r13_gate_two_plans_probe", SF)
    first = spark.range(10).select(F.col("id").alias("k"))
    second = spark.range(100, 110).select(F.col("id").alias("k"))
    try:
        maybe_broadcast(first, 10_000, persist_input=True, stats_key=key)
        out = maybe_broadcast(
            second, 10_000, persist_input=True, stats_key=key
        )
        assert sorted(r.k for r in out.collect()) == list(range(100, 110))
    finally:
        clear_staged()
