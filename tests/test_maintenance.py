"""Upsert-merge and compaction: content-exactness and layout guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from wsu_cpts_415_spark.io.maintenance import (
    compact,
    merge_upsert,
    store_summary,
    table_file_stats,
)
from wsu_cpts_415_spark.io.tables import load_table


def _content_key(df):
    """Order-insensitive content fingerprint: sorted tuple list."""
    return sorted(tuple(r) for r in df.collect())


def test_merge_upsert_replaces_and_inserts(spark, tmp_path):
    store = str(tmp_path / "store")
    cust = load_table(spark, SF_ORACLE, "customer")
    cust.write.parquet(store)
    n0 = cust.count()

    # 3 replacements (existing keys, changed balance) + 2 inserts
    updates = (
        cust.filter(F.col("c_custkey") < 3)
        .withColumn("c_acctbal", F.lit(0.0))
        .unionByName(
            cust.filter(F.col("c_custkey") < 2).withColumn(
                "c_custkey", F.col("c_custkey") + 10_000_000
            )
        )
    )
    stats = merge_upsert(spark, store, updates, keys=["c_custkey"])
    assert stats == {
        "before": n0,
        "updates": 5,
        "after": n0 + 2,
        "replaced": 3,
    }
    merged = spark.read.parquet(store)
    # replaced rows carry the update's value, not the original
    assert (
        merged.filter(F.col("c_custkey") < 3)
        .agg(F.sum(F.abs("c_acctbal")))
        .first()[0]
        == 0.0
    )
    # inserted keys present exactly once
    assert merged.filter(F.col("c_custkey") >= 10_000_000).count() == 2


def test_merge_upsert_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    load_table(spark, SF_ORACLE, "supplier").write.parquet(store)

    # updates re-derived per call: a lazy DataFrame over the store's OLD
    # snapshot would dangle after the first swap (documented contract)
    def updates():
        return spark.read.parquet(store).filter(F.col("s_suppkey") < 5)

    merge_upsert(spark, store, updates(), keys=["s_suppkey"])
    first = _content_key(spark.read.parquet(store))
    merge_upsert(spark, store, updates(), keys=["s_suppkey"])
    assert _content_key(spark.read.parquet(store)) == first


def test_compact_preserves_content_and_shrinks_files(spark, tmp_path):
    store = str(tmp_path / "store")
    orders = load_table(spark, SF_ORACLE, "orders")
    # simulate micro-batch debris: 40 small files
    orders.repartition(40).write.parquet(store)
    assert table_file_stats(store)["n_files"] == 40
    before = _content_key(spark.read.parquet(store))

    stats = compact(spark, store, target_file_bytes=1 << 30)
    assert stats["files_after"] == 1
    assert _content_key(spark.read.parquet(store)) == before


def test_store_summary_counts_nulls(spark, tmp_path):
    store = str(tmp_path / "store")
    nation = load_table(spark, SF_ORACLE, "nation")
    nation.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") % 5 == 0, None).otherwise(F.col("n_name")),
    ).write.parquet(store)
    row = store_summary(spark, store).first()
    assert row["n_rows"] == 25
    assert row["nulls_n_name"] == 5
    assert row["nulls_n_nationkey"] == 0


def test_scd2_merge_tracks_history(spark, tmp_path):
    from wsu_cpts_415_spark.io.maintenance import merge_scd2, scd2_init

    store = str(tmp_path / "scd2")
    cust = load_table(spark, SF_ORACLE, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n0 = cust.count()
    scd2_init(spark, store, cust, version=1)

    # batch 2: change 3 balances, add 2 new keys, leave the rest alone
    updates = (
        cust.filter(F.col("c_custkey") < 3)
        .withColumn("c_acctbal", F.lit(-1.0))
        .unionByName(
            cust.filter(F.col("c_custkey") < 2).withColumn(
                "c_custkey", F.col("c_custkey") + 10_000_000
            )
        )
    )
    stats = merge_scd2(
        spark, store, updates,
        keys=["c_custkey"], tracked=["c_nationkey", "c_acctbal"], version=2,
    )
    assert stats["closed"] == 3
    assert stats["opened"] == 5
    assert stats["inserted_new_keys"] == 2
    assert stats["after"] == n0 + 3 + 2  # history kept, new keys added

    t = spark.read.parquet(store)
    # changed keys: one closed row (valid 1->2) and one open row at v2
    changed = t.filter(F.col("c_custkey") < 3)
    assert changed.filter(~F.col("is_current")).count() == 3
    closed = changed.filter(~F.col("is_current")).select("valid_from", "valid_to").distinct().collect()
    assert [(r["valid_from"], r["valid_to"]) for r in closed] == [(1, 2)]
    assert (
        changed.filter(F.col("is_current"))
        .agg(F.sum(F.abs(F.col("c_acctbal") + 1.0)))
        .first()[0]
        == 0.0
    )
    # current slice is exactly one row per live key
    cur = t.filter(F.col("is_current"))
    assert cur.count() == cur.select("c_custkey").distinct().count() == n0 + 2

    # idempotency: re-applying the same batch changes nothing
    stats2 = merge_scd2(
        spark, store, updates,
        keys=["c_custkey"], tracked=["c_nationkey", "c_acctbal"], version=3,
    )
    assert stats2["closed"] == 0 and stats2["opened"] == 0
    assert stats2["after"] == stats["after"]


def test_maintenance_handles_empty_inputs(spark, tmp_path):
    """Empty update batches and empty stores must be no-ops, not crashes:
    the first thing an incremental pipeline hits in production is a day
    with no data."""
    from wsu_cpts_415_spark.io.maintenance import merge_scd2, merge_upsert, scd2_init

    cust = load_table(spark, SF_ORACLE, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    empty = cust.filter(F.lit(False))
    n0 = cust.count()

    # SCD-1 with an empty batch: store unchanged
    store1 = str(tmp_path / "scd1")
    cust.write.parquet(store1)
    stats = merge_upsert(spark, store1, empty, keys=["c_custkey"])
    assert stats["after"] == n0 and stats["replaced"] == 0

    # SCD-2 with an empty batch: nothing closed or opened
    store2 = str(tmp_path / "scd2")
    scd2_init(spark, store2, cust, version=1)
    stats2 = merge_scd2(
        spark, store2, empty,
        keys=["c_custkey"], tracked=["c_nationkey", "c_acctbal"], version=2,
    )
    assert stats2["closed"] == 0 and stats2["opened"] == 0
    assert stats2["after"] == n0

    # a parquet round-trip of an empty frame preserves the schema
    p = str(tmp_path / "empty_parquet")
    empty.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 0
    assert back.schema == empty.schema


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """Continuous-aggregate maintenance: append batches day-by-day,
    refresh only touched days, and the rollup must equal the full
    recompute -- including a late-arriving batch that lands on an
    already-rolled-up day."""
    from wsu_cpts_415_spark.io.maintenance import refresh_daily_rollup
    from wsu_cpts_415_spark.io.tables import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    events_dir = str(tmp_path / "events_store")
    rollup_dir = str(tmp_path / "rollup")

    d0 = F.to_date("ts")
    lo = ev.agg(F.min(d0)).first()[0]
    b1 = ev.filter(d0 <= F.lit(lo))          # day one
    b2 = ev.filter((d0 > F.lit(lo)) & (F.col("event_type") != "error"))
    b3 = ev.filter((d0 > F.lit(lo)) & (F.col("event_type") == "error"))  # late rows on old days

    b1.write.mode("overwrite").parquet(events_dir)
    refresh_daily_rollup(spark, events_dir, rollup_dir, b1)
    b2.write.mode("append").parquet(events_dir)
    refresh_daily_rollup(spark, events_dir, rollup_dir, b2)
    b3.write.mode("append").parquet(events_dir)
    refresh_daily_rollup(spark, events_dir, rollup_dir, b3)

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


def test_merge_upsert_rejects_duplicate_keyed_batch(spark, tmp_path):
    """MERGE contract: one row per key.  A duplicate-keyed batch would
    silently land both rows (anti-join removes the store row, union keeps
    every update), so the guard must refuse it up front."""
    import pytest

    store = str(tmp_path / "store")
    nation = load_table(spark, SF_ORACLE, "nation")
    nation.write.parquet(store)
    dup_batch = nation.filter(F.col("n_nationkey") == 1).unionByName(
        nation.filter(F.col("n_nationkey") == 1).withColumn(
            "n_name", F.lit("OTHER")
        )
    )
    with pytest.raises(ValueError, match="distinct keys"):
        merge_upsert(spark, store, dup_batch, keys=["n_nationkey"])
    # the store is untouched after the refused merge
    assert spark.read.parquet(store).count() == 25


def test_scd2_requires_tracked_columns(spark, tmp_path):
    import pytest

    from wsu_cpts_415_spark.io.maintenance import merge_scd2, scd2_init

    store = str(tmp_path / "store")
    nation = load_table(spark, SF_ORACLE, "nation")
    scd2_init(spark, store, nation, version=1)
    with pytest.raises(ValueError, match="non-empty"):
        merge_scd2(
            spark, store, nation, keys=["n_nationkey"], tracked=[], version=2
        )


def test_scd2_null_key_rows_are_merged_null_safely(spark, tmp_path):
    """The SCD-2 join is null-safe on the keys, so a NULL key value is a
    legal key: a batch row with a NULL key must UPDATE the existing
    NULL-keyed current row (close + reopen), not vanish or be ignored."""
    from wsu_cpts_415_spark.io.maintenance import merge_scd2, scd2_init

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k int, v string"
    )
    scd2_init(spark, store, base, version=1)

    batch = spark.createDataFrame([(None, "b2")], "k int, v string")
    stats = merge_scd2(
        spark, store, batch, keys=["k"], tracked=["v"], version=2
    )
    assert stats["closed"] == 1 and stats["opened"] == 1
    after = spark.read.parquet(store)
    cur = {
        r["v"]
        for r in after.filter(F.col("is_current") & F.col("k").isNull()).collect()
    }
    assert cur == {"b2"}
    closed = after.filter(~F.col("is_current") & F.col("k").isNull()).first()
    assert closed["v"] == "b" and closed["valid_to"] == 2


def test_compact_partitioned_store_bounds_files_per_partition(spark, tmp_path):
    """Partition-aware compaction hash-repartitions ON the partition
    columns, so each partition value lands in one task -> one file per
    value, never n_target files per value."""
    store = str(tmp_path / "store")
    orders = load_table(spark, SF_ORACLE, "orders").withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    # micro-batch debris: 10 files per partition value
    orders.repartition(10).write.partitionBy("bucket").parquet(store)
    assert table_file_stats(store)["n_files"] == 40
    before = _content_key(spark.read.parquet(store))

    compact(spark, store, partition_by=["bucket"], target_file_bytes=1 << 30)
    after = table_file_stats(store)
    # one file per partition value (4 values), content identical
    assert after["n_files"] == 4
    assert _content_key(spark.read.parquet(store)) == before


def test_tpch_refresh_cycle_rf1_rf2(spark, tmp_path):
    """TPC-H-style refresh stream: RF1 inserts a batch of new orders +
    their lineitems, RF2 deletes a keyed subset from BOTH tables; after
    the cycle, a q1-shaped pricing rollup over the maintained store must
    equal the same rollup recomputed from scratch on (original + inserts
    - deletes) -- maintenance must be invisible to query results."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from wsu_cpts_415_spark.io.maintenance import merge_delete, merge_upsert
    from wsu_cpts_415_spark.io.tables import load_table

    o_store = str(tmp_path / "orders_store")
    l_store = str(tmp_path / "lineitem_store")
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders.write.parquet(o_store)
    li.write.parquet(l_store)

    shift = 10_000_000
    # RF1: re-key a slice of existing rows as the "new arrivals" batch
    # (ordered limit: the slice must be the same rows on every reference)
    batch_orders = orders.orderBy("o_orderkey").limit(50)
    new_orders = batch_orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + shift
    )
    from pyspark.sql import Window as W

    # the synthetic fixture does not enforce (orderkey, linenumber)
    # uniqueness, so the insert batch re-numbers its lines to satisfy
    # the store's unique-key MERGE contract
    new_li = (
        li.join(
            batch_orders.select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
        )
        .withColumn("l_orderkey", F.col("l_orderkey") + shift)
        .withColumn(
            "l_linenumber",
            F.row_number().over(
                W.partitionBy("l_orderkey").orderBy(
                    "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
                )
            ),
        )
    ).select(*li.columns)
    merge_upsert(spark, o_store, new_orders, ["o_orderkey"])
    # lineitem's key is composite (orderkey, linenumber)
    merge_upsert(spark, l_store, new_li, ["l_orderkey", "l_linenumber"])

    # RF2: delete every 7th original order (and its lines)
    doomed = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    r1 = merge_delete(spark, o_store, doomed, ["o_orderkey"])
    r2 = merge_delete(
        spark,
        l_store,
        doomed.select(F.col("o_orderkey").alias("l_orderkey")),
        ["l_orderkey"],
    )
    assert r1["deleted"] > 0 and r2["deleted"] > 0

    def q1_shape(lineitem):
        return (
            lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("rev"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    maintained = q1_shape(spark.read.parquet(l_store)).collect()
    expected_li = (
        li.join(doomed.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey", "left_anti")
        .unionByName(new_li)
    )
    expected = q1_shape(expected_li).collect()
    assert [tuple(r) for r in maintained] == [tuple(r) for r in expected]

    # and the stores reconcile on counts
    n_orders = spark.read.parquet(o_store).count()
    assert n_orders == orders.count() + 50 - r1["deleted"]
