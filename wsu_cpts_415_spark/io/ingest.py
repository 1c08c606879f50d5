"""Crawl-file ingest: the reference's loader stage as ONE distributed job.

Reference shape (all single-threaded driver Python):
  * recursive TSV directory scan, skipping ``log*``/hidden files
    (big_data/scripts/load_data/load.py:31-55, name filters :49-53);
  * positional decode of >=9 fields + variadic related-ids tail, failures
    routed to a reject file (data_types.py:26-42, load.py:22-26,104-111);
  * date parsed from the *directory name*, two formats: ``mmdd`` => 2007,
    ``yymmdd`` => 2008+ (load.py:98-100, mongo_loader.py:73-94);
  * JSON-lines sink, file-per-date (data_types.py:44-65, load.py:102-108);
  * per-date control totals: parsed count + sum(views) (load.py:113-118);
  * MongoDB sink with first-writer-wins dedup on (upload_date, id)
    (mongo_loader.py:57-61,198-212).

Engine shape: ``spark.read.text`` with recursive lookup -> one pass of
column expressions (split/cast/slice) -> valid/reject split on a single
validity predicate -> parquet partitioned by upload_date with
*deterministic* dedup (the reference keeps whichever row was inserted
first, i.e. insert-order dependent; we keep the min-payload-hash row so
re-runs are reproducible).  Every step is executor-side; the driver never
sees a row.  At 100 TB: the scan parallelizes per file-split, the only
shuffle is the dedup's hash partition on (upload_date, id), and the
partitioned layout gives downstream date predicates partition pruning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

# positional contract, data_types.py:9-21: (name, cast or None for string)
_FIELDS: list[tuple[str, str | None]] = [
    ("id", None),
    ("uploader_un", None),
    ("age_days", "bigint"),
    ("category", None),
    ("length_s", "bigint"),
    ("views", "bigint"),
    ("video_rate", "double"),
    ("num_ratings", "bigint"),
    ("num_comments", "bigint"),
]


def scan_crawl_lines(spark: SparkSession, root: str) -> DataFrame:
    """S1: recursive raw-line scan of every non-log, non-hidden ``.txt``.

    (line, src_file, dir_name) -- one row per crawl line.  Spark's file
    index already skips ``.``/``_``-prefixed paths; the ``log*`` exclusion
    (load.py:49-53) is a filename predicate on input_file_name (P7)."""
    lines = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .text(root)
    )
    return (
        lines.withColumn("src_file", F.input_file_name())
        .filter(~F.element_at(F.split("src_file", "/"), -1).startswith("log"))
        .withColumn("dir_name", F.element_at(F.split("src_file", "/"), -2))
        .withColumnRenamed("value", "line")
    )


def parse_directory_date(col: F.Column) -> F.Column:
    """F9 dual-format date: ``mmdd`` => 2007-mm-dd, ``yymmdd`` => 20yy-mm-dd
    (mongo_loader.py:73-94).  Unparseable names => NULL (reference raises
    and skips the directory; a null date keeps the rows and lets the
    caller decide -- strictly more information)."""
    # try_to_date, not to_date: ANSI mode (Spark 4 default) makes a
    # plain to_date THROW on a 4/6-char directory name that is not a
    # date ('1340', 'backup') -- the contract here is NULL, keep rows
    return (
        F.when(
            F.length(col) == 4,
            F.try_to_date(F.concat(F.lit("2007"), col), "yyyyMMdd"),
        )
        .when(F.length(col) == 6, F.try_to_date(col, "yyMMdd"))
        .otherwise(F.lit(None).cast("date"))
    )


def decode_crawl(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S2+S3: typed decode with reject channel.

    Returns (typed, rejects).  A line is valid when it has >=9 tab-separated
    fields and every numeric field casts cleanly (the positional contract of
    data_types.py:26-39; cast failure = the ValueError path of :40-42).
    Rejected lines are preserved verbatim with their source file
    (load.py:104-111)."""
    fields = raw.withColumn("f", F.split("line", "\t"))
    # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain cast
    # THROW on malformed input -- the reject channel wants the null
    casts = [
        F.try_element_at("f", F.lit(i + 1)).try_cast(cast).alias(name) if cast else
        F.try_element_at("f", F.lit(i + 1)).alias(name)
        for i, (name, cast) in enumerate(_FIELDS)
    ]
    numeric_ok = [
        F.try_element_at("f", F.lit(i + 1)).try_cast(cast).isNotNull()
        for i, (_, cast) in enumerate(_FIELDS)
        if cast
    ]
    validity = F.size("f") >= len(_FIELDS)
    for ok in numeric_ok:
        validity = validity & ok

    parsed = fields.withColumn("_valid", validity)
    typed = (
        parsed.filter("_valid")
        .select(
            *casts,
            F.expr(f"slice(f, {len(_FIELDS) + 1}, greatest(size(f) - {len(_FIELDS)}, 0))").alias(
                "related_ids"
            ),
            "dir_name",
        )
        .withColumn("upload_date", parse_directory_date(F.col("dir_name")))
        .drop("dir_name")
    )
    rejects = parsed.filter(~F.col("_valid")).select("line", "src_file")
    return typed, rejects


def to_nested(typed: DataFrame) -> DataFrame:
    """Flat typed rows -> canonical nested videos shape (schemas.VIDEOS;
    the single schema replacing the reference's two inconsistent JSON
    nestings, SURVEY.md §1.2)."""
    return typed.select(
        "id",
        "upload_date",
        F.struct(
            F.col("uploader_un").alias("uploader"),
            F.col("age_days").alias("age_days"),
            F.col("category").alias("category"),
        ).alias("video_desc"),
        F.struct(
            F.col("length_s").alias("length"),
            F.col("video_rate").alias("rating"),
        ).alias("video_attri"),
        F.struct(
            F.col("views").alias("views"),
            F.col("num_ratings").alias("num_ratings"),
            F.col("num_comments").alias("num_comments"),
        ).alias("video_engagement"),
        "related_ids",
    )


def control_totals(typed: DataFrame) -> DataFrame:
    """S5 per-date reconciliation totals (load.py:113-118): row count and
    sum(views) per input date -- the golden numbers any later store must
    reproduce (kept as a real test, SURVEY.md §5)."""
    return typed.groupBy("upload_date").agg(
        F.count("*").alias("parsed_lines"),
        F.sum("views").alias("sum_views"),
    )


def dedup_first_writer(nested: DataFrame) -> DataFrame:
    """S6 uniqueness on (upload_date, id) with a DETERMINISTIC winner.

    The reference's unique index keeps whichever document hit Mongo first
    (insert-order dependent, mongo_loader.py:198-212).  Deterministic
    replacement: keep the row with the smallest payload hash -- stable
    across runs, partitionings, and retries.  One shuffle on the key."""
    payload = F.xxhash64(F.to_json(F.struct(*nested.columns)))
    w = Window.partitionBy("upload_date", "id").orderBy(payload.asc())
    return (
        nested.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )


@dataclass(frozen=True)
class IngestStats:
    parsed: int
    rejected: int
    written: int
    duplicates: int


def ingest_crawl(
    spark: SparkSession,
    root: str,
    out_dir: str,
    reject_dir: str | None = None,
    jsonl_dir: str | None = None,
    totals_dir: str | None = None,
) -> IngestStats:
    """End-to-end load (the whole of load.py + mongo_loader.py as one job):
    scan -> decode/reject -> nest -> dedup -> parquet partitioned by
    upload_date, with optional reject / JSON-lines / control-total side
    sinks.  Returns the reference's stats line (mongo_loader.py:232-238).

    The stats cost no job of their own: each count is an ``Observation``
    on a write that runs anyway -- ``parsed`` on the dedup write's input,
    ``written`` on its output, ``rejected`` on the reject write (a plain
    count only when there is no ``reject_dir``).  ``validate_store``
    remains the store's end-to-end reconciliation."""
    raw = scan_crawl_lines(spark, root).cache()  # typed + rejects both
    # read it; otherwise each would re-scan + re-split every input line
    typed, rejects = decode_crawl(raw)
    typed = typed.cache()  # up to three writes below: jsonl, totals, store
    nested = to_nested(typed)

    def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

    if reject_dir is not None:
        observed_rejects, rejected_obs = counted(rejects)
        observed_rejects.write.mode("overwrite").json(reject_dir)
        rejected = rejected_obs.get["n"]
    else:
        rejected = rejects.count()
    if jsonl_dir is not None:
        (
            nested.select(
                F.date_format("upload_date", "yyMMdd").alias("date_collected"),
                F.to_json(F.struct(*nested.columns)).alias("value"),
            )
            .write.mode("overwrite")
            .partitionBy("date_collected")
            .text(jsonl_dir)
        )
    if totals_dir is not None:
        control_totals(typed).write.mode("overwrite").json(totals_dir)

    parsed_in, parsed_obs = counted(nested)
    deduped, written_obs = counted(dedup_first_writer(parsed_in))
    deduped.write.mode("overwrite").partitionBy("upload_date").parquet(out_dir)

    parsed, written = parsed_obs.get["n"], written_obs.get["n"]
    typed.unpersist()
    raw.unpersist()
    return IngestStats(
        parsed=parsed,
        rejected=rejected,
        written=written,
        duplicates=parsed - written,
    )


def read_videos_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """S8: read the partitioned store back with the canonical schema."""
    from wsu_cpts_415_spark.schemas import VIDEOS

    df = spark.read.parquet(out_dir)
    # partitionBy writes upload_date as a partition column (read back as
    # date); reorder to the canonical column order
    return df.select([f.name for f in VIDEOS.fields])


def validate_store(spark: SparkSession, root: str, out_dir: str) -> DataFrame:
    """S12/A7-style reconciliation (validate_data.py:19-42,72-83): re-parse
    the raw tree and diff per-date control totals against the store.
    Returns rows only where totals disagree (empty = consistent).  Note the
    store deduplicates, so totals are compared on the deduped parse."""
    typed, _ = decode_crawl(scan_crawl_lines(spark, root))
    raw_totals = control_totals(dedup_first_writer(to_nested(typed)).select(
        "upload_date", F.col("video_engagement.views").alias("views")
    ))
    store = spark.read.parquet(out_dir)
    store_totals = store.select(
        "upload_date", F.col("video_engagement.views").alias("views")
    ).groupBy("upload_date").agg(
        F.count("*").alias("store_lines"),
        F.sum("views").alias("store_views"),
    )
    # null-safe join: the NULL-date group (unparseable directory names
    # keep their rows by design) must reconcile against itself, not show
    # up as two half-null "inconsistent" rows
    r, st = raw_totals.alias("r"), store_totals.alias("st")
    return (
        r.join(
            st,
            F.col("r.upload_date").eqNullSafe(F.col("st.upload_date")),
            "full_outer",
        )
        .select(
            F.coalesce("r.upload_date", "st.upload_date").alias("upload_date"),
            "r.parsed_lines", "r.sum_views", "st.store_lines", "st.store_views",
        )
        .filter(
            (F.col("parsed_lines") != F.col("store_lines"))
            | (F.col("sum_views") != F.col("store_views"))
            | F.col("parsed_lines").isNull()
            | F.col("store_lines").isNull()
        )
    )
