"""SparkSession builder, parameterized for local or cluster use.

The reference hardcodes ``.master("local")`` (one thread) in three of its
four analyses (reference big_data/scripts/analysis/analyze_links.py:22) --
a bug its own correlation_analysis.py:17-30 avoids by probing for the
cluster. Here the master is never hardcoded: local runs parameterize
``local[N]``, cluster runs leave the master to spark-submit.

Scale posture (100 TB target):
  - AQE on (coalesce partitions, skew-join splitting at runtime).
  - Arrow on for every pandas boundary.
  - shuffle partitions default to ~cores locally; on a real cluster AQE
    coalesces from a high initial number, so we only pin it in local mode.
  - session timezone pinned UTC so timestamp semantics are deployment-
    independent (and DuckDB-oracle comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on, so a
    bare ``get_spark()`` never runs more task threads than the host has."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


_DEFAULT_CPUS = _default_cpus()


def get_spark(
    app_name: str = "wsu_cpts_415_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the SparkSession.

    ``master=None`` means: respect an existing session / spark-submit
    ``--master`` if present, else fall back to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # runtime bloom-filter join pruning: the selective side of a
        # shuffle join builds a bloom filter that prunes the other side's
        # scan/shuffle (measured at sf0.1: q3 1.18 s -> 0.60 s, q21
        # 1.40 s -> 1.09 s); at 100 TB this is the difference between
        # shuffling the whole fact table and shuffling the matching slice
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # nested-struct column pruning reaches the parquet scan
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # join strategy (optimization guide §3.1): allow shuffled-hash
        # join where a side fits -- SMJ pays a sort of both sides that
        # a hash build skips.  The static flag lets the planner choose
        # SHJ from estimates; the AQE threshold converts SMJ->SHJ at
        # runtime whenever every post-shuffle partition is under 128 MB
        # (2x the 64 MB advisory partition target), so per-task build
        # memory stays bounded by partition sizing at ANY scale -- this
        # is not a local[32] tune.  Measured (interleaved same-process
        # A/B at sf0.1, r12): 20-join-heavy-query subset 0.944x, no
        # query worse than +4% noise.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
            128 * 1024 * 1024
        ),
        # write modern annotated INT64 micros, never legacy INT96 (other
        # readers see INT96 as ns and mis-handle it; deprecated upstream)
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # zstd over the snappy default: measured on this repo's own
        # maintenance writers (SCALE.md round 6) 21% smaller files at
        # equal write+read cost -- at 100 TB that's 21 TB less to
        # store, scan, and shuffle-spill
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        # PySpark 4 captures the Python call site on every Column and
        # functions call: an active-session lookup, a conf read and an
        # origin set + clear over Py4J, plus a Python stack walk.  Off,
        # error messages lose that call-site context, and building one
        # dedup-gate micro-batch's plan (streaming/ingest_dedup.py
        # gate_batch) takes 510-650 Py4J round trips instead of
        # 1,130-1,250 (measured over 4 warm batches on 4 cores).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else _DEFAULT_CPUS
        ),
        # local mode: the driver is the only JVM; give it headroom
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
