"""Measured-shuffle evidence (ops/metrics.py): the scale claims the plan
gates assert by SHAPE are re-verified here by runtime BYTE COUNTS from
the executed plan's SQLMetrics."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_ORACLE
from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.ops.metrics import shuffle_profile
from wsu_cpts_415_spark.registry import all_queries


def test_broadcast_join_moves_less_than_forced_smj(spark):
    """The same star join measured both ways: the broadcast plan must
    shuffle strictly fewer records than a hint-forced sort-merge plan,
    which has to move both join sides."""
    orders = load_table(spark, SF_ORACLE, "orders")
    customer = load_table(spark, SF_ORACLE, "customer")
    agg_cols = [F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("rev")]

    bhj = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(*agg_cols)
    )
    smj = (
        orders.join(
            customer.hint("merge"), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(*agg_cols)
    )
    p_bhj = shuffle_profile(bhj)
    p_smj = shuffle_profile(smj)
    assert sorted(map(tuple, bhj.collect())) == sorted(map(tuple, smj.collect()))
    assert p_smj["shuffle_records"] > p_bhj["shuffle_records"], (p_bhj, p_smj)
    assert p_smj["n_shuffles"] > p_bhj["n_shuffles"]


def test_dedup_exact_shuffles_digests_not_documents(spark):
    """The exact-dedup claim measured: the shuffle must move far fewer
    bytes than the raw text payload it deduplicates."""
    docs = load_table(spark, SF_ORACLE, "documents")
    text_bytes = docs.agg(
        F.sum(F.length(F.encode("text", "UTF-8"))).alias("b")
    ).collect()[0]["b"]
    prof = shuffle_profile(all_queries()["dedup_exact"].fn(spark, SF_ORACLE))
    assert prof["shuffle_bytes"] > 0  # the digest groupBy does shuffle
    assert prof["shuffle_bytes"] < 0.5 * text_bytes, (
        f"dedup shuffled {prof['shuffle_bytes']}B vs {text_bytes}B of text -- "
        "the shuffle should carry digests, not documents"
    )


def test_q6_shuffle_is_aggregate_sized(spark):
    """Partial aggregation measured: q6 scans the fact table (row-group
    stats at this file size don't skip, so scan_rows == table rows) but
    the map-side combine collapses everything BEFORE the exchange -- the
    only shuffle carries a handful of partial-aggregate rows."""
    li_rows = load_table(spark, SF_ORACLE, "lineitem").count()
    prof = shuffle_profile(
        all_queries()["q6_forecast_revenue"].fn(spark, SF_ORACLE)
    )
    assert prof["scan_rows"] <= li_rows
    assert prof["n_shuffles"] <= 1
    assert prof["shuffle_records"] < 100, (
        f"q6 shuffled {prof['shuffle_records']} records -- partial "
        "aggregation should reduce the fact table to per-task partials"
    )


def test_flagship_broadcast_bytes_are_dimension_sized(spark):
    """The flagship's broadcast volume is the customer dimension, not
    the fact table: broadcast bytes must be far below the fact table's
    shuffled/scanned volume at any SF."""
    prof = shuffle_profile(
        all_queries()["flagship_top_customers"].fn(spark, SF_ORACLE)
    )
    assert prof["broadcast_bytes"] > 0
    # the broadcast is bounded by the dimension size; the scan covers
    # the fact table -- at sf0.01 the customer dim is ~1.5k rows
    assert prof["scan_rows"] > 10 * 1500


def test_ingest_gate_shuffles_sketches_not_text(spark):
    """The ingest gate's measured movement must be sketch-sized: the
    shuffle carries digests / band keys / shingle arrays, never the
    document text payload (the standing corpus streams map-side against
    the broadcast batch tables)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    text_bytes = docs.agg(
        F.sum(F.length(F.encode("text", "UTF-8"))).alias("b")
    ).collect()[0]["b"]
    prof = shuffle_profile(
        all_queries()["ingest_dedup_gate"].fn(spark, SF_ORACLE)
    )
    assert prof["shuffle_bytes"] < text_bytes, (
        f"gate shuffled {prof['shuffle_bytes']}B vs {text_bytes}B of text"
    )


def test_boilerplate_filter_shuffles_digests_not_text(spark):
    """The boilerplate line filter's scale claim measured: line
    construction + hashing happen inside the scan stage, so the two
    shuffles (line document-frequency agg, digest join back) move md5
    digests + ids, never the text payload."""
    docs = load_table(spark, SF_ORACLE, "documents")
    text_bytes = docs.agg(
        F.sum(F.length(F.encode("text", "UTF-8"))).alias("b")
    ).collect()[0]["b"]
    prof = shuffle_profile(
        all_queries()["boilerplate_line_filter"].fn(spark, SF_ORACLE)
    )
    assert prof["shuffle_bytes"] > 0
    assert prof["shuffle_bytes"] < text_bytes, (
        f"boilerplate filter shuffled {prof['shuffle_bytes']}B vs "
        f"{text_bytes}B of text -- the shuffles should carry digests"
    )
    # the shuffle ROWS must be digest-sized (id + 8-byte hash), never
    # line- or text-sized -- this is the invariant that holds at any
    # document length, where the total-bytes comparison above is only
    # meaningful because fixture docs are short
    per_row = prof["shuffle_bytes"] / max(prof["shuffle_records"], 1)
    assert per_row < 48, (
        f"boilerplate filter shuffle rows average {per_row:.0f}B -- "
        "expected digest-sized rows"
    )
