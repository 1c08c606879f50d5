"""Streaming boilerplate gate: CCNet-style line-level dedup at ingest
time (Wenzek et al. 2020 §4.1), the line-frequency twin of the exact+LSH
dedup gate in streaming/ingest_dedup.py.

Arriving documents are segmented into fixed LINE_TOKENS-token "lines";
a line is boilerplate when the number of DISTINCT documents containing
it -- across the standing corpus AND the current batch -- reaches
BOILERPLATE_DF.  A document whose boilerplate fraction reaches
LINE_GATE_THRESHOLD is rejected; survivors land in the accepted store
and their per-line postings extend the standing line-frequency store,
so batch N+1 gates against everything batch N admitted.

Row formats: the segmentation (``line_digests``), BOILERPLATE_DF and
LINE_GATE_THRESHOLD are the registry's (queries/llm_filters.py), the
same definitions behind the staged ``line_segments`` layer that the
batch face (``ingest_boilerplate_gate``) gates; this module keeps no
copy.

Exactly-once, landing, store reads and restart-skip init: the dedup
gate's shared protocol (streaming/ingest_dedup.py, over the foreachBatch
runner and batch writer of streaming/jobs.py).

Scale posture: the standing store holds (digest, n_docs) aggregates --
8-byte xxhash64 digests, never line text -- so the per-batch gate cost
is one standing-store scan plus digest-sized shuffles; document text
never leaves the batch's scan stage.  At 100 TB the store is the
parquet twin of a nightly-compacted digest rollup (io/maintenance.py's
incremental refresh is the maintenance face).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from wsu_cpts_415_spark.queries.llm_filters import (
    BOILERPLATE_DF,
    LINE_GATE_THRESHOLD,
    line_digests,
)
from wsu_cpts_415_spark.streaming.ingest_dedup import (
    _init_stores,
    _land,
    _read_store,
)
from wsu_cpts_415_spark.streaming.jobs import run_foreach_batch

# the line store's row schema: ``doc_line_counts``'s (digest, n_docs)
LINE_COUNTS_SCHEMA = "digest long, n_docs long"


def line_digests_of(docs: DataFrame) -> DataFrame:
    """(doc_id, digest) at SEGMENT grain -- one row per line occurrence,
    hashed inside the scan stage by the registry's ``line_digests`` (the
    staged ``line_segments`` layer, without its line index)."""
    return docs.select("doc_id", F.explode(line_digests()).alias("digest"))


def doc_line_counts(lines: DataFrame) -> DataFrame:
    """(digest, n_docs): distinct-document posting counts per line over
    a (doc_id, digest) ``lines`` frame -- the standing store's row
    format.  The gate counts the ``line_digests_of`` a corpus or an
    admitted micro-batch (``_line_counts_of``); the batch queries pass
    the staged ``line_segments`` layer, so the corpus text is split once
    per corpus, not once per caller."""
    return (
        lines.select("doc_id", "digest")
        .dropDuplicates(["doc_id", "digest"])
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"))
    )


def gate_lines_against(
    lines: DataFrame,
    std_line_df: DataFrame,
    threshold: float = LINE_GATE_THRESHOLD,
) -> DataFrame:
    """Store-free core of the gate over the batch's (doc_id, digest)
    ``lines`` and the standing (digest, n_docs) counts: per batch
    document, the line count, boilerplate-line count (document frequency
    across standing + batch reaches BOILERPLATE_DF), rounded boilerplate
    ratio, and the admission verdict (unrounded ratio strictly below
    ``threshold``).  Registered as the oracle-checked query
    ``ingest_boilerplate_gate`` (queries/llm_filters.py), which passes
    the staged ``line_segments`` rows of both sides."""
    batch_df_counts = (
        lines.dropDuplicates(["doc_id", "digest"])
        .groupBy("digest")
        .agg(F.count("*").alias("b_docs"))
    )
    total = (
        batch_df_counts.join(
            std_line_df.groupBy("digest").agg(
                F.sum("n_docs").alias("s_docs")
            ),
            "digest",
            "left",
        )
        .select(
            "digest",
            (F.col("b_docs") + F.coalesce(F.col("s_docs"), F.lit(0))).alias(
                "df_total"
            ),
        )
    )
    is_bp = F.when(F.col("df_total") >= BOILERPLATE_DF, 1).otherwise(0)
    ratio = F.sum(is_bp).cast("double") / F.count("*")
    return (
        lines.join(total, "digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(is_bp).alias("n_boilerplate"),
            F.round(ratio, 4).alias("bp_ratio"),
            (ratio < threshold).alias("admitted"),
        )
    )


def _line_counts_of(docs: DataFrame) -> DataFrame:
    """(digest, n_docs) of a document frame: the rows the line store
    gains from a corpus build or an admitted micro-batch."""
    return doc_line_counts(line_digests_of(docs))


def gate_line_batch(
    batch_df: DataFrame,
    store_dir: str,
    threshold: float = LINE_GATE_THRESHOLD,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Gate ``batch_df`` against the standing line store (read by
    ``ingest_dedup._read_store`` with its pinned schema: a missing store
    is an empty corpus, ``exclude_batch`` keeps replays deterministic),
    returning the admitted document rows."""
    std = _read_store(
        batch_df.sparkSession,
        f"{store_dir}/line_counts",
        LINE_COUNTS_SCHEMA,
        exclude_batch,
    )
    verdicts = gate_lines_against(line_digests_of(batch_df), std, threshold)
    return batch_df.join(
        verdicts.filter(F.col("admitted")).select("doc_id"), "doc_id"
    )


def init_line_store(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Bootstrap the standing line-frequency store from a corpus through
    ``ingest_dedup._init_stores`` (restart-skip included).  A build
    materializes the corpus's line counts once and writes them as the
    store."""
    _init_stores(
        spark,
        corpus_docs,
        store_dir,
        "line",
        _line_counts_of,
        {"line_counts": lambda counts: counts},
    )


def apply_line_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    threshold: float = LINE_GATE_THRESHOLD,
) -> int:
    """Idempotent per-batch body: gate, land survivors, extend the line
    store -- every write into a _batch=<id> partition via dynamic
    overwrite.  Returns the number of documents admitted.  Lands through
    the dedup gate's ``ingest_dedup._land``: the admitted rows are
    materialized once, with lineage cut from the line store, so the
    accepted write (first) and the line-store append both derive from
    rows a re-execution of the gate cannot change.  ``batch_df`` is
    persisted because the gate's plan reads it three times (twice
    through its line segmentation, once in the join back to the
    admitted ids) and the stream must scan it once."""
    batch_df.persist()
    try:
        return _land(
            gate_line_batch(batch_df, store_dir, threshold, exclude_batch=batch_id),
            batch_id,
            accepted_dir,
            batch_df.columns,
            {f"{store_dir}/line_counts": _line_counts_of},
        )
    finally:
        batch_df.unpersist()


def stream_ingest_line_gate(
    stream_docs: DataFrame,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = LINE_GATE_THRESHOLD,
    on_batch_end=None,
) -> StreamingQuery:
    """Run the boilerplate gate over a documents stream through
    ``jobs.run_foreach_batch`` and return the finished query;
    ``on_batch_end`` is the runner's failure-injection seam."""
    return run_foreach_batch(
        stream_docs,
        lambda batch_df, batch_id: apply_line_gate_batch(
            batch_df, batch_id, store_dir, accepted_dir, threshold
        ),
        checkpoint_dir,
        on_batch_end,
    )
