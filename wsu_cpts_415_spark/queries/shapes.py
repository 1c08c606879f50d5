"""Relational shapes beyond the reference's surface: GROUPING SETS,
unpivot/melt, positional explode, and JSON key-signature extraction.

SURVEY.md §2.4 notes grouping sets/cube/rollup are absent in the
reference but free in Spark; ``rollup_agg``/``cube_agg`` cover the
hierarchical forms, these cover the explicit-set and reshaping forms.

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``); ``unpivot_measures`` is the
``DataFrame.unpivot`` API case, and the other DataFrame bodies have
oracles only DuckDB can run.
``DATAFRAME_BODIES`` in ``tests/test_source_lints.py`` gives the reason
of each DataFrame body whose oracle Spark runs and matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql


register_sql(
    "grouping_sets_agg",
    """Explicit GROUPING SETS: (flag, status), (flag), and grand total in
    ONE pass -- the Expand operator replicates each input row once per
    set, so the fact table is scanned once, not three times.  Fixture
    keys are non-null, so COALESCE('ALL') is an unambiguous subtotal
    label.""",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY returnflag, linestatus
    """,
)


@register(
    "unpivot_measures",
    oracle="""
    WITH agg AS (
        SELECT l_returnflag,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               ROUND(SUM(l_discount), 2) AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
    ORDER BY l_returnflag, measure
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (unpivot/melt): per-flag measure columns
    become (measure, value) rows.  Unpivot is a per-row Expand -- no
    shuffle beyond the feeding aggregate; the inverse of
    ``pivot_status_by_flag``."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("l_returnflag", "measure")


@register(
    "posexplode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
           unnest(toks) AS token
    FROM (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 50
    )
    ORDER BY doc_id, pos
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW posexplode): token stream with
    0-based position per document -- the input shape for windowed n-gram
    and rolling-hash operators.  A generator expression, not a join:
    rows fan out inside the same stage with no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


@register(
    "json_props_keys",
    oracle="""
    SELECT array_to_string(list_sort(json_keys(props)), ',') AS key_sig,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY key_sig
    ORDER BY n_events DESC, key_sig
    """,
)
def json_props_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over a semi-structured JSON column: group events
    by their sorted property-key signature.  ``from_json`` to
    map<string,string> is a JVM-side expression (no UDF); the aggregate
    domain is the number of distinct payload shapes, i.e. tiny."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.array_join(
                F.array_sort(
                    F.map_keys(F.from_json("props", "map<string,string>"))
                ),
                ",",
            ).alias("key_sig")
        )
        .groupBy("key_sig")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "key_sig")
    )
