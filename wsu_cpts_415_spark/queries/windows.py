"""Window-function queries (SURVEY.md §2.6-2.7: W1-W2, O1-O4) plus the
frame/lag-lead surface the reference doesn't use.

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``); the DataFrame bodies left here are
a kernel (``percent_rank_scalable``), a plan-gated rank-pushdown shape
(``topk_with_ties_dense_rank``) and oracles only DuckDB can run.
``DATAFRAME_BODIES`` in ``tests/test_source_lints.py`` gives the reason
of each DataFrame body whose oracle Spark runs and matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql


register_sql(
    "topn_per_group",
    """W1 top-N per key (trending_predictor.py:164-189): row_number over
    partitioned desc window + rank filter -- the canonical Spark plan
    (single hash-partition shuffle on the key, per-partition sort, no
    global sort).  Tie-break on p_partkey makes it deterministic.""",
    """
    SELECT p_brand, p_partkey, p_retailprice, rnk
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey ASC
               ) AS INT) AS rnk
        FROM part
    )
    WHERE rnk <= 3
    ORDER BY p_brand, rnk
    """,
)

register_sql(
    "percent_rank_global",
    """W2 global percent_rank (trending_predictor.py:167,188).

    .. warning:: PARITY DEMO -- DO NOT LIFT INTO A PIPELINE.  This is
       the reference's single-partition window kept verbatim as the
       "before" half of a demonstration pair, valid only on a bounded
       dimension table (supplier).  Fact-table percentiles must use
       ``percent_rank_scalable`` below, the routed formulation in
       ``pipelines/trending.py``, or ``ops/scalable_rank.py``.""",
    """
    SELECT s_suppkey,
           ROUND(PERCENT_RANK() OVER (ORDER BY s_acctbal DESC, s_suppkey), 6)
               AS pct_rank
    FROM supplier
    ORDER BY s_suppkey
    """,
)


@register(
    "percent_rank_scalable",
    oracle="""
    WITH ranked AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               RANK() OVER (ORDER BY l_extendedprice DESC) AS rnk,
               COUNT(*) OVER () AS n
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           ROUND(CAST(rnk - 1 AS DOUBLE) / (n - 1), 6) AS pct_rank
    FROM ranked
    WHERE rnk <= 100
    ORDER BY pct_rank, l_orderkey, l_linenumber
    """,
)
def percent_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable percentile formulation for the W2 hazard at 100 TB:
    (rank-1)/(n-1) with NO unpartitioned window over the fact table.

    Plan: (1) scalar count n; (2) top-k threshold via
    TakeOrderedAndProject (per-partition heaps, driver merge of k rows);
    (3) filter the fact table to values >= threshold -- pushed to the
    scan -- which bounds the remaining slice to ~k rows; (4) rank within
    that bounded slice (ranks of rows >= threshold equal their global
    ranks because every tied row is retained)."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()  # scalar agg job
    k = 100
    topk = (
        li.select("l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc())
        .limit(k)
        .collect()
    )
    if not topk:  # empty fact table: nothing to rank
        return li.limit(0).select(
            "l_orderkey", "l_linenumber", F.lit(0.0).alias("pct_rank")
        )
    threshold = topk[-1][0]
    w = Window.orderBy(F.col("l_extendedprice").desc())
    ranked = li.filter(F.col("l_extendedprice") >= threshold).select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.rank().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= k)
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        F.round((F.col("rnk") - 1).cast("double") / (n - 1), 6).alias("pct_rank"),
    ).orderBy("pct_rank", "l_orderkey", "l_linenumber")


register_sql(
    "running_sum_frame",
    """Explicit ROWS frame: per-supplier running quantity in ship order.
    Total order (shipdate, orderkey, linenumber) makes the cumulative
    float sum bit-identical across engines.""",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(SUM(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 3
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
)


@register(
    "lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
               LAG(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    WHERE o_custkey <= 20
    ORDER BY o_custkey, o_orderkey
    """,
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): days between a customer's consecutive orders (the
    sessionization building block, SURVEY.md §2.6 'exposed as standard')."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.filter(F.col("o_custkey") <= 20)
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("bigint").alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


register_sql(
    "top_k_global",
    """O3 global top-k (trending_predictor.py:200): ORDER BY ... LIMIT k
    compiles to TakeOrderedAndProject -- per-partition heaps + driver
    merge, never a full sort.""",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)

register_sql(
    "window_analytics",
    """The analytic-function surface beyond rank/row_number: dense_rank,
    ntile, cume_dist, first_value, last_value over one per-segment
    window.  The order key carries a custkey tie-break so ntile bucket
    boundaries are deterministic.  One shuffle on the partition key
    serves all five functions (same WindowSpec -> one Window operator).
    """,
    """
    SELECT c_custkey, c_mktsegment,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cdist,
           FIRST_VALUE(c_custkey) OVER w AS richest,
           LAST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, drank, c_custkey
    """,
)


@register(
    "range_frame_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, day_no,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY day_no
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
             AS trailing_30d
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               datediff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) AS day_no
        FROM orders
    )
    ORDER BY o_custkey, day_no, o_orderkey
    """,
)
def range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, the sum
    of order totals in the trailing 30-day window of each order.  RANGE
    includes same-day peer rows regardless of their order, so the result
    is deterministic under ties -- the property ROWS frames lack.  Day
    number is materialized as an integer (Spark's rangeBetween bounds
    are numeric offsets on the sort key)."""
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", day_no.alias("day_no")
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "day_no",
            F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
        )
        .orderBy("o_custkey", "day_no", "o_orderkey")
    )


TIES_TOP_K = 3  # dense ranks kept per nation


@register(
    "topk_with_ties_dense_rank",
    oracle=f"""
    SELECT n_name, rnk, s_acctbal, n_suppliers
    FROM (
        SELECT n.n_name,
               CAST(DENSE_RANK() OVER (PARTITION BY n.n_name
                                       ORDER BY s.s_acctbal DESC)
                    AS INT) AS rnk,
               s.s_acctbal,
               CAST(COUNT(*) OVER (PARTITION BY n.n_name, s.s_acctbal)
                    AS BIGINT) AS n_suppliers
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    WHERE rnk <= {TIES_TOP_K}
    GROUP BY 1, 2, 3, 4
    ORDER BY n_name, rnk
    """,
)
def topk_with_ties_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TIES_TOP_K} supplier balances per nation WITH TIES: the
    dense_rank semantics row_number-based top-k silently breaks -- equal
    balances share a rank and ALL of them survive the cut, so the result
    is value-complete (every supplier at a kept balance is represented
    in n_suppliers) and insensitive to input order even when balances
    collide.  The rank-semantics member of the top-k family
    (topn_per_group = row_number, top_k_global = TakeOrdered,
    weighted_reservoir_topk = WindowGroupLimit).

    Scale: window partitioned by the nation dim; the dense_rank filter
    is rank-pushdown eligible (WindowGroupLimit) since Spark 3.5 --
    only candidate ranks survive each partition's sort.  The tie count
    is deliberately NOT a second window function: a non-rank window in
    the same subtree disables InferWindowGroupLimit (round-8 plan
    audit caught exactly that -- two Window nodes, no group limit).
    Because dense_rank keeps ALL ties, the rank filter keeps each
    (nation, balance) group wholly or not at all, so counting AFTER
    the filter is semantically identical and runs as a hash aggregate
    over the pruned rows instead of a full-width window over every
    supplier."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    j = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"))
    return (
        j.select(
            "n_name",
            F.dense_rank().over(w).cast("int").alias("rnk"),
            "s_acctbal",
        )
        .filter(F.col("rnk") <= TIES_TOP_K)
        .groupBy("n_name", "rnk", "s_acctbal")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("n_name", "rnk")
    )
