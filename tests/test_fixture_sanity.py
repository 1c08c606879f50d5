"""Fixture-contract sanity checks.

The driver regenerates /root/testdata between rounds and has shipped the
events ``ts`` column as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS).
``load_table`` sniffs the unit from the parquet footer
(io/tables.py:events_ts_read_plan); these tests pin the contract: whatever
the physical unit, the engine-facing timestamps must agree with what an
independent reader (DuckDB) sees.  Round-3 regression: a hardcoded
ns->us division corrupted every ts when the fixture switched to MICROS,
silently breaking 7 driver-checked queries.
"""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from tests.conftest import SF_ORACLE
from wsu_cpts_415_spark.io.tables import load_table


def test_events_ts_matches_duckdb(spark):
    """Spark's min/max/count of events.ts must equal DuckDB's (µs exact)."""
    row = (
        load_table(spark, SF_ORACLE, "events")
        .agg(
            F.unix_micros(F.min("ts")).alias("lo"),
            F.unix_micros(F.max("ts")).alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    lo, hi, n = duckdb.sql(
        f"SELECT epoch_us(MIN(ts)), epoch_us(MAX(ts)), COUNT(*) "
        f"FROM '{SF_ORACLE}/events.parquet'"
    ).fetchone()
    assert (row["lo"], row["hi"], row["n"]) == (lo, hi, n)


def test_events_ts_plausible_epoch(spark):
    """Timestamps land in a plausible modern range, not 1970 (unit drift)."""
    row = (
        load_table(spark, SF_ORACLE, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    assert row["lo"].year >= 2000, f"ts unit drift: min ts {row['lo']}"
    assert row["hi"].year <= 2100, f"ts unit drift: max ts {row['hi']}"


def _write_events_variant(tmp_path, ts_array, id_type=None):
    """Write an events.parquet with a drifted physical shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ts_array)
    ids = pa.array(range(n), type=id_type or pa.int64())
    tbl = pa.table(
        {
            "event_id": ids,
            "ts": ts_array,
            "user_id": pa.array([7] * n, type=pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.5] * n, type=pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_drift_repair_nanos(spark, tmp_path):
    """TIMESTAMP(NANOS) fixture (round<=2 shape) floor-converts to µs."""
    import pyarrow as pa

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    ts = pa.array([base_us * 1000 + 1234, (base_us + 86_400_000_000) * 1000],
                  type=pa.timestamp("ns"))
    d = _write_events_variant(tmp_path, ts)
    rows = load_table(spark, d, "events").select(
        F.unix_micros("ts").alias("us")
    ).orderBy("us").collect()
    assert [r["us"] for r in rows] == [base_us + 1, base_us + 86_400_000_000]


def test_drift_repair_date32_and_int32(spark, tmp_path):
    """DATE-typed ts and int32 event_id both repair to the canonical types."""
    import datetime

    import pyarrow as pa

    ts = pa.array([datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)],
                  type=pa.date32())
    d = _write_events_variant(tmp_path, ts, id_type=pa.int32())
    df = load_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert dict(df.dtypes)["event_id"] == "bigint"
    days = sorted(r[0] for r in df.select(F.to_date("ts")).collect())
    assert [str(x) for x in days] == ["2024-01-01", "2024-01-02"]


def test_drift_repair_micros_passthrough(spark, tmp_path):
    """The canonical MICROS shape takes the unmodified declared-schema scan
    (no conversion expressions) -- pushdown-preserving fast path."""
    import pyarrow as pa

    from wsu_cpts_415_spark.io.tables import _arrow_schema, _reconcile
    from wsu_cpts_415_spark.schemas import EVENTS

    base_us = 1_704_067_200_000_000
    ts = pa.array([base_us, base_us + 1], type=pa.timestamp("us"))
    d = _write_events_variant(tmp_path, ts)
    _, conversions = _reconcile(EVENTS, _arrow_schema(f"{d}/events.parquet"))
    assert conversions == {}
    rows = load_table(spark, d, "events").select(
        F.unix_micros("ts").alias("us")
    ).orderBy("us").collect()
    assert [r["us"] for r in rows] == [base_us, base_us + 1]


def test_drift_repair_lying_sidecar(spark, tmp_path):
    """File whose parquet logical type is TIMESTAMP(MICROS) but whose
    ARROW:schema sidecar claims timestamp[ns] (seen from some writers when
    the fixture regenerated mid-round).  The unit decision must follow the
    footer's logical annotation -- trusting the sidecar divides us by 1000
    and squashes 30 days of events into ~43 minutes (the CORRECTNESS_r03
    failure signature: one window, one session per user).

    pyarrow's own writers keep the sidecar truthful, so the lie is injected
    by monkeypatching _arrow_schema's reported arrow view over a genuine
    MICROS file -- exactly what the loader would see from such a writer."""
    import pyarrow as pa

    import wsu_cpts_415_spark.io.tables as tables_mod

    base_us = 1_704_067_200_000_000
    vals = [base_us, base_us + 86_400_000_000, base_us + 2 * 86_400_000_000]
    ts = pa.array(vals, type=pa.timestamp("us"))
    d = _write_events_variant(tmp_path, ts)

    real_arrow_schema = tables_mod._arrow_schema

    def lying_arrow_schema(path):
        meta = real_arrow_schema(path)
        if meta is not None and "ts" in meta.get("logical", {}):
            i = meta["arrow"].get_field_index("ts")
            meta["arrow"] = meta["arrow"].set(i, pa.field("ts", pa.timestamp("ns")))
        return meta

    tables_mod._arrow_schema = lying_arrow_schema
    try:
        df = load_table(spark, d, "events")
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        assert got == vals
        days = df.select(F.to_date("ts")).distinct().count()
        assert days == 3, "sidecar lie must not collapse distinct days"
    finally:
        tables_mod._arrow_schema = real_arrow_schema


def test_drift_repair_plain_epoch_int64(spark, tmp_path):
    """Unannotated epoch-int64 ts (no parquet timestamp logical type) in
    µs and ms magnitudes both repair via the magnitude-adaptive CASE."""
    import pyarrow as pa

    base_us = 1_704_067_200_000_000
    for unit_div in (1, 1000):  # µs file, then ms file
        vals = [base_us // unit_div, (base_us + 86_400_000_000) // unit_div]
        ts = pa.array(vals, type=pa.int64())
        d = _write_events_variant(tmp_path, ts)
        got = sorted(
            r[0]
            for r in load_table(spark, d, "events")
            .select(F.unix_micros("ts"))
            .collect()
        )
        assert got == [base_us, base_us + 86_400_000_000], f"unit_div={unit_div}"


def test_drift_repair_millis_logical(spark, tmp_path):
    """TIMESTAMP(MILLIS) logical annotation scans natively (no conversion)."""
    import pyarrow as pa

    base_ms = 1_704_067_200_000
    ts = pa.array([base_ms, base_ms + 86_400_000], type=pa.timestamp("ms"))
    d = _write_events_variant(tmp_path, ts)
    got = sorted(
        r[0]
        for r in load_table(spark, d, "events").select(F.unix_micros("ts")).collect()
    )
    assert got == [base_ms * 1000, (base_ms + 86_400_000) * 1000]


def test_all_tables_readable_and_counts_match(spark):
    """Every fixture table must load under its pinned schema and agree
    with DuckDB on row count -- catches physical-type drift in any
    regenerated fixture before individual queries fail confusingly."""
    from wsu_cpts_415_spark.io.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        n_spark = load_table(spark, SF_ORACLE, name).count()
        n_duck = duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_ORACLE}/{name}.parquet'"
        ).fetchone()[0]
        assert n_spark == n_duck, f"{name}: spark={n_spark} duck={n_duck}"
