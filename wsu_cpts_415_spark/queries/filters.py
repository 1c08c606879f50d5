"""Projection / filter / scalar-function queries (SURVEY.md §2.2-2.3).

Covers P1-P7 and F1-F12 semantics transposed onto the fixture tables:
conjunctive quality filters (reference trending_predictor.py:63-70), casts
(correlation_analysis.py:90-98), CASE ladders (trending_predictor.py:97-114),
between (trending_predictor.py:67,110), date parts
(correlation_analysis.py:86-88), log1p feature math
(trending_predictor.py:79,93).

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``); ``string_funcs`` keeps its DataFrame
body because its oracle's regex literal reads differently in Spark SQL.
``DATAFRAME_BODIES`` in ``tests/test_source_lints.py`` gives the reason
of each DataFrame body whose oracle Spark runs and matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql


register_sql(
    "filter_conjunctive",
    """Conjunctive quality filter (P2: trending_predictor.py:63-70 shape).

    All predicates are plain column comparisons, so every one of them is
    pushed to the parquet scan (PushedFilters) -- at 100 TB the scan
    skips whole row groups via min/max stats instead of filtering rows.
    """,
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 10
      AND l_returnflag IS NOT NULL
    """,
)

register_sql(
    "project_cast_arith",
    """Type casts + arithmetic + log1p feature math (P4/F3/F4:
    correlation_analysis.py:90-98, trending_predictor.py:77-94).""",
    """
    SELECT p_partkey,
           CAST(p_size AS DOUBLE) AS size_d,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_int,
           ROUND(LN(1 + p_retailprice) * 10.0, 6) AS log_price,
           UPPER(p_brand) AS brand_u
    FROM part
    """,
)

register_sql(
    "case_when_ladder",
    """Multi-branch CASE (F5: trending_predictor.py:97-114 length-score
    ladder) feeding an aggregate.""",
    """
    SELECT CASE
             WHEN p_size < 10 THEN 'small'
             WHEN p_size BETWEEN 10 AND 25 THEN 'medium'
             WHEN p_size BETWEEN 26 AND 40 THEN 'large'
             ELSE 'jumbo'
           END AS size_class,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR((2 * SUM(ROUND(p_retailprice * 100)) + COUNT(*))
                 / (2 * COUNT(*))) / 100.0 AS avg_price
    FROM part
    GROUP BY 1
    ORDER BY size_class
    """,
)

register_sql(
    "date_parts",
    """Date-part extraction + group (F8: correlation_analysis.py:86-88).""",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY yr, mo
    """,
)


@register(
    "string_funcs",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name) AS name_lc,
           regexp_extract(p_brand, '#(\\d+)', 1) AS brand_num,
           LENGTH(p_name) AS name_len,
           substring(p_type, 1, 6) AS type_prefix,
           CAST(contains(p_type, 'PROMO') AS BOOLEAN) AS is_promo
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: lower/regexp_extract/length/substring/
    contains (engine extras beyond the reference, SURVEY.md §2.3 note)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.col("p_type").contains("PROMO").alias("is_promo"),
    )
