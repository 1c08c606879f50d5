"""Fixture-table source: explicit-schema parquet reads with drift repair.

Replaces the reference's schema-inferred Mongo source (S8,
reference analyze_links.py:111-116) with parquet + declared StructType.
Applying the schema at read time (rather than casting after) keeps column
pruning and filter pushdown at the scan: ``.explain`` shows ``ReadSchema``
with only the projected columns and ``PushedFilters`` for predicates.

Physical-type drift: the fixture generator has shipped the same logical
column as parquet TIMESTAMP(NANOS), TIMESTAMP(MICROS) and DATE across
rounds.  Rather than assume one shape, ``load_table`` reads the parquet
footer (driver-side, metadata only, one part file) and reconciles the
file's physical types against the canonical schema:

* columns whose declared type Spark can scan directly keep the declared
  type (pushdown intact — the common case, zero overhead);
* TIMESTAMP(NANOS) (which Spark's reader rejects with
  PARQUET_TYPE_ILLEGAL) and unannotated epoch-int64 columns are read as
  the raw int64 and floor-converted to microseconds with integer
  division (exact; double division would lose precision on ~1.7e18 ns
  epochs);
* other representable drifts (DATE file vs TIMESTAMP schema, timestamp
  file vs DATE schema, narrower/wider ints, float vs double) are read at
  the file's native type and cast to the canonical type.

Two hardening rules, learned from a round-3 regression where every
event fell into a single window (CORRECTNESS_r03: 7 reds, all
``events.ts`` consumers):

1. **The parquet logical type, not the arrow-metadata view, decides the
   unit.**  ``pf.schema_arrow`` is reconstructed from the ``ARROW:schema``
   / pandas sidecar metadata, which some writers leave stale (claiming
   ``timestamp[ns]`` over a file whose logical annotation — the thing
   Spark's reader actually honours — is TIMESTAMP(MICROS)).  Keying the
   ns repair off the sidecar divides already-micros values by 1000 and
   silently squashes 30 days of events into ~43 minutes.
2. **Raw int64 -> timestamp conversion is magnitude-adaptive.**  Epoch
   seconds (~1e9), millis (~1e12), micros (~1e15) and nanos (~1e18) are
   three decades apart, so a CASE on ``abs(v)`` picks the right divisor
   per row no matter what the footer claimed (unambiguous for dates
   between 1973 and ~5000 CE).  A wrong annotation can then cost a cast,
   never a silent 1000x error.

The repair is per-column: an undrifted column scans exactly as before.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wsu_cpts_415_spark.schemas import FIXTURE_SCHEMAS

TABLE_NAMES = tuple(FIXTURE_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _arrow_schema(path: str):
    """Arrow-level schema of a parquet file/dir, or None when unreadable.

    Metadata-only: reads one part file's footer on the driver.
    """
    try:
        import pyarrow.parquet as pq

        part = path
        if os.path.isdir(path):
            parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
            if not parts:
                return None
            part = os.path.join(path, parts[0])
        pf = pq.ParquetFile(part)
        # INT96 (legacy Spark writer) surfaces as timestamp[ns] in the
        # arrow view but IS natively Spark-readable; report it as None so
        # the reconciler leaves the column alone.
        phys = {}
        logical = {}
        for i in range(len(pf.schema)):
            col = pf.schema.column(i)
            phys[col.name] = col.physical_type
            # str() of the logical annotation, e.g.
            # "Timestamp(isAdjustedToUTC=false, timeUnit=microseconds, ...)"
            # — this is the footer truth Spark's reader honours, unlike the
            # ARROW:schema sidecar behind pf.schema_arrow.
            logical[col.name] = str(col.logical_type)
        return {"arrow": pf.schema_arrow, "physical": phys, "logical": logical}
    except Exception:
        return None


def epoch_int64_to_timestamp(name: str) -> Column:
    """Magnitude-adaptive raw-int64 -> TIMESTAMP conversion.

    Epoch values in seconds / millis / micros / nanos occupy disjoint
    magnitude bands (1000x apart), so the unit is recoverable from the
    value itself — immune to stale footer metadata.  Integer division
    keeps the ns -> us floor exact (double math loses ulps at ~1.7e18).
    Unambiguous for timestamps between 1973 and ~5000 CE in every unit.
    """
    q = f"`{name}`"
    return F.expr(
        # exact integer FLOOR division: `div` truncates toward zero, off
        # by 1us for pre-1970 nano epochs, and double floor() loses ulps
        # at ~1.7e18 -- subtracting pmod (always >= 0) keeps it integral
        f"CASE WHEN abs({q}) >= 100000000000000000 THEN "
        f"timestamp_micros(({q} - pmod({q}, 1000)) div 1000) "
        f"WHEN abs({q}) >= 100000000000000 THEN timestamp_micros({q}) "
        f"WHEN abs({q}) >= 100000000000 THEN timestamp_millis({q}) "
        f"ELSE timestamp_seconds({q}) END"
    )


def events_ts_read_plan(path: str) -> tuple[str, Column | None]:
    """How to read ``events.ts``: ``("native", None)`` when Spark scans it
    as TimestampType directly, else ``("raw", conversion)`` — read as
    LongType and apply the returned conversion Column.

    Used by the streaming source (streaming/jobs.py), which must pick its
    readStream schema before any data flows.  The decision comes from the
    parquet *logical* annotation (footer truth); the arrow sidecar view is
    only a fallback signal for files with no annotation at all.
    """
    meta = _arrow_schema(path)
    if meta is None or meta["physical"].get("ts") != "INT64":
        return "native", None
    logical = meta["logical"].get("ts", "")
    if "timeUnit=microseconds" in logical or "timeUnit=milliseconds" in logical:
        return "native", None
    if "timeUnit=nanoseconds" in logical:
        return "raw", epoch_int64_to_timestamp("ts")
    # No timestamp annotation: a plain epoch int64 (any unit) cannot be
    # scanned as TimestampType; read raw and convert by magnitude.
    try:
        import pyarrow as pa

        atype = meta["arrow"].field("ts").type
        if pa.types.is_timestamp(atype) or pa.types.is_integer(atype):
            return "raw", epoch_int64_to_timestamp("ts")
    except Exception:
        pass
    return "native", None


def _spark_native_type(arrow_type) -> T.DataType | None:
    """The Spark type that scans an arrow-typed parquet column natively.

    Returns None for shapes this reconciler doesn't model (structs, maps,
    decimals, ...) — those keep the declared type untouched.
    """
    import pyarrow as pa

    if pa.types.is_timestamp(arrow_type):
        # ns handled by the caller (raw-int64 path); us/ms scan natively.
        return T.TimestampType()
    if pa.types.is_date(arrow_type):
        return T.DateType()
    if pa.types.is_int64(arrow_type):
        return T.LongType()
    if pa.types.is_int32(arrow_type) or pa.types.is_int16(arrow_type) or pa.types.is_int8(arrow_type):
        return T.IntegerType()
    if pa.types.is_float64(arrow_type):
        return T.DoubleType()
    if pa.types.is_float32(arrow_type):
        return T.FloatType()
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return T.StringType()
    if pa.types.is_binary(arrow_type) or pa.types.is_large_binary(arrow_type):
        return T.BinaryType()
    if pa.types.is_boolean(arrow_type):
        return T.BooleanType()
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        inner = _spark_native_type(arrow_type.value_type)
        return T.ArrayType(inner) if inner is not None else None
    return None


def _reconcile(
    declared: T.StructType, meta
) -> tuple[T.StructType, dict[str, Column]]:
    """Per-column read plan: (schema to scan with, post-scan conversions).

    A column appears in the conversions map only when the file's physical
    type cannot be scanned as the declared type; everything else keeps the
    declared type at the scan (pushdown/pruning preserved).
    """
    import pyarrow as pa

    if meta is None:
        return declared, {}
    arrow, physical = meta["arrow"], meta["physical"]
    logical = meta.get("logical", {})
    read_fields: list[T.StructField] = []
    conversions: dict[str, Column] = {}
    for field in declared.fields:
        read_type = field.dataType
        try:
            afield = arrow.field(field.name)
        except KeyError:
            afield = None
        if afield is not None:
            atype = afield.type
            log = logical.get(field.name, "")
            phys = physical.get(field.name)
            wants_temporal = isinstance(
                field.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
            )
            if (
                phys == "INT64"
                and "timeUnit=nanoseconds" in log
            ):
                # TIMESTAMP(NANOS): Spark rejects the annotation outright
                # (PARQUET_TYPE_ILLEGAL) — read raw int64, convert by
                # magnitude (exact floor division for the ns case).
                read_type = T.LongType()
                conv = epoch_int64_to_timestamp(field.name)
                if isinstance(field.dataType, T.DateType):
                    conv = conv.cast(T.DateType())
                conversions[field.name] = conv.alias(field.name)
            elif (
                phys == "INT64"
                and ("timeUnit=microseconds" in log or "timeUnit=milliseconds" in log)
            ):
                # Footer says MICROS/MILLIS: Spark scans these natively,
                # even when a stale ARROW:schema sidecar claims ns.  Keep
                # the declared temporal type at the scan (pushdown intact);
                # cast only if the declared type is DATE.
                if isinstance(field.dataType, T.DateType):
                    read_type = T.TimestampType()
                    conversions[field.name] = (
                        F.col(field.name).cast(T.DateType()).alias(field.name)
                    )
                elif not wants_temporal:
                    read_type = T.TimestampType()
                    conversions[field.name] = (
                        F.col(field.name).cast(field.dataType).alias(field.name)
                    )
            elif (
                wants_temporal
                and phys == "INT64"
                and (pa.types.is_integer(atype) or pa.types.is_timestamp(atype))
            ):
                # Plain epoch int64 (no timestamp annotation in the
                # FOOTER -- the earlier branches own annotated columns)
                # under a temporal declared type: raw read + magnitude-
                # adaptive conversion.  A long->timestamp CAST would
                # misread the value as epoch *seconds*.  The sidecar may
                # claim either int64 or timestamp[ns] here (the stale-
                # sidecar writer shape events_ts_read_plan also repairs);
                # both mean the same unannotated storage.
                read_type = T.LongType()
                conv = epoch_int64_to_timestamp(field.name)
                if isinstance(field.dataType, T.DateType):
                    conv = conv.cast(T.DateType())
                conversions[field.name] = conv.alias(field.name)
            else:
                native = _spark_native_type(atype)
                if native is not None and native != field.dataType:
                    read_type = native
                    conversions[field.name] = (
                        F.col(field.name).cast(field.dataType).alias(field.name)
                    )
        read_fields.append(T.StructField(field.name, read_type, field.nullable))
    return T.StructType(read_fields), conversions


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its canonical schema, repairing any
    physical-type drift the current fixture generation shipped."""
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    declared = FIXTURE_SCHEMAS[name]
    read_schema, conversions = _reconcile(declared, _arrow_schema(path))
    df = spark.read.schema(read_schema).parquet(path)
    if conversions:
        df = df.withColumns(conversions)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def _file_stamp(path: str) -> tuple | None:
    """(mtime_ns, size) of a table file; for a parquet directory, the
    sorted (name, mtime_ns, size) of its entries.  None when missing."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return st.st_mtime_ns, st.st_size
        with os.scandir(path) as it:
            entries = [(e.name, e.stat()) for e in it]
        return tuple(sorted((n, e.st_mtime_ns, e.st_size) for n, e in entries))
    except OSError:
        return None


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface.

    Temp views are session-scoped, so the session remembers the dataset
    its views were last built from: ``sf_dir`` and each table file's
    stamp.  A call for that same dataset is a no-op; any other
    ``sf_dir``, or a table file replaced since, re-registers every view.
    Only the current dataset is kept, so alternating datasets re-register
    each time, and a new session (``spark.newSession()``) starts empty.
    Nothing else may register temp views under the fixture table names.
    """
    dataset = (sf_dir, tuple(
        _file_stamp(os.path.join(sf_dir, f"{name}.parquet")) for name in TABLE_NAMES
    ))
    if getattr(spark, "_graft_views", None) == dataset:
        return
    spark._graft_views = None  # a failed re-registration leaves no record
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    spark._graft_views = dataset
