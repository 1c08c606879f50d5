"""Aggregation queries (SURVEY.md §2.4: A1-A8) plus engine extras the
reference lacks (rollup/cube, grouping sets, approx aggregates,
percentiles).

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``); the DataFrame bodies left here are
oracles only DuckDB can run (``quantile_cont``, ``list``,
``string_agg ... ORDER BY``) or whose sketch settings differ from
Spark's SQL defaults.
``DATAFRAME_BODIES`` in ``tests/test_source_lints.py`` gives the reason
of each DataFrame body whose oracle Spark runs and matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql


register_sql(
    "group_count",
    """A1 word-count shape (analyze_links.py:125-131) done right:
    count(*) with partial aggregation, not sum(lit(1)).""",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)


@register(
    "multi_agg_per_group",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           FLOOR((2 * SUM(ROUND(c_acctbal * 100)) + COUNT(*))
                 / (2 * COUNT(*))) / 100.0 AS avg_bal,
           ROUND(MIN(c_acctbal), 2) AS min_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
               AS segments
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def multi_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 multi-aggregate per group (graph_filter.py:143-155).

    The reference materializes collect_set then takes size -- unbounded
    per-group state.  Here the counts are countDistinct (no array built);
    the array output is kept ONLY as a deterministic sort_array(collect_set)
    to prove set-aggregate parity, and would be dropped at 100 TB.
    """
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            # exact-cents average with explicit half-up rounding done in
            # integer space: c_acctbal has 2 decimals, so SUM(ROUND(x*100))
            # is an exact integer-valued double in any summation order, and
            # FLOOR((2*cents + n) / (2n)) is the half-up-rounded mean in
            # cents with every intermediate exact below 2^53.  A plain
            # ROUND(AVG(x), 2) diverges across engines whenever the true
            # mean is an exact half-cent (sf0.001 nationkey 17: mean
            # 4201.315 -> Spark 4201.32 via decimal-string HALF_UP, DuckDB
            # 4201.31 via raw-double rounding).
            (
                F.floor(
                    (2 * F.sum(F.round(F.col("c_acctbal") * 100, 0))
                     + F.count("*"))
                    / (2 * F.count("*"))
                )
                / 100.0
            ).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            # serialized (array_join) so the output is scalar-typed: the
            # driver's pandas canonicalizer cannot sort list cells
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
        )
        .orderBy("c_nationkey")
    )


register_sql(
    "dup_detection",
    """A7 duplicate-key detection (validate_data.py:74-83 Mongo pipeline)
    as GROUP BY + HAVING.""",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 1
    ORDER BY n DESC, o_custkey
    """,
)

register_sql(
    "rollup_agg",
    """ROLLUP hierarchy totals -- engine extra (SURVEY.md §2.4 'not
    present'); one shuffle, grouping-set expansion is map-side.""",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

register_sql(
    "cube_agg",
    """CUBE over two low-cardinality dims -- engine extra.""",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)

register_sql(
    "distinct_counts",
    """Exact multi-column distinct counts (expand + two-phase agg).""",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
)


@register(
    "approx_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           ABS(approx_count_distinct(l_partkey)
               - COUNT(DISTINCT l_partkey)) * 1.0
               / COUNT(DISTINCT l_partkey) <= 0.05 AS parts_within_5pct,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           ABS(approx_count_distinct(l_orderkey)
               - COUNT(DISTINCT l_orderkey)) * 1.0
               / COUNT(DISTINCT l_orderkey) <= 0.05 AS orders_within_5pct
    FROM lineitem
    """,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) -- the 100 TB substitute for
    exact distinct (constant memory per group, no expand).

    Sketch estimates differ across engines by design, so the oracle is
    self-validating: each engine runs its OWN sketch and its own exact
    count, and the registered output is the exact count plus a boolean
    "estimate within 5% of exact" -- deterministic and engine-agnostic
    (HLL++ at rsd 0.02 and DuckDB's HLL are both far inside 5% at these
    cardinalities)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.countDistinct("l_partkey")
            )
            / F.countDistinct("l_partkey")
            <= 0.05
        ).alias("parts_within_5pct"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        (
            F.abs(
                F.approx_count_distinct("l_orderkey", 0.02)
                - F.countDistinct("l_orderkey")
            )
            / F.countDistinct("l_orderkey")
            <= 0.05
        ).alias("orders_within_5pct"),
    )


@register(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (median/p90/p99).

    Spark's percentile() matches DuckDB quantile_cont interpolation.
    At 100 TB swap to approx_percentile -- exposed in the API as the
    same query shape (percentiles_approx, rows-only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


register_sql(
    "stats_moments",
    """Statistical aggregates incl. Pearson corr (A5 building block --
    correlation_analysis.py:100-110 is composed from these pairwise).""",
    """
    SELECT ROUND(AVG(l_quantity), 6) AS mean_qty,
           ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
           ROUND(var_samp(l_quantity), 6) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    """,
)

register_sql(
    "schema_completeness_scan",
    """A8 schema-completeness scan: per-column null counts over a bounded
    sample (reference validate_data.py:45-69 loops 10,000 docs client-side
    and -- a known bug -- checks flat field names that never existed in
    the nested documents; here the canonical schema is checked with ONE
    aggregate).  The bound is a deterministic key range, not the
    reference's order-dependent first-10000, so results are reproducible
    and the predicate is scan-prunable.""",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_event_id,
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_ts,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_user_id,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_event_type,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_value,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_props
    FROM events
    WHERE event_id < 10000
    """,
)


@register(
    "percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           approx_quantile(l_extendedprice, 0.5)
               BETWEEN quantile_cont(l_extendedprice, 0.49)
                   AND quantile_cont(l_extendedprice, 0.51) AS p50_ok,
           approx_quantile(l_extendedprice, 0.9)
               BETWEEN quantile_cont(l_extendedprice, 0.89)
                   AND quantile_cont(l_extendedprice, 0.91) AS p90_ok,
           approx_quantile(l_extendedprice, 0.99)
               BETWEEN quantile_cont(l_extendedprice, 0.98)
                   AND MAX(l_extendedprice) AS p99_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile with bounded relative error -- the 100 TB
    percentile path: a mergeable quantile sketch per group (constant
    memory, one partial+final aggregate) instead of the per-group sort
    exact percentile() needs.

    Sketch values are engine-specific (Spark GK vs DuckDB t-digest), so
    the oracle is self-validating: each engine checks its OWN sketch
    against its own exact quantiles with a +-1-percentile rank bracket,
    and the registered output is the deterministic boolean verdict per
    group.  The exact twin (``percentiles``) remains the value-checked
    shape."""
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10_000  # 1/acc relative rank error
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), {acc})"
            ).alias("pa"),
            F.expr(
                "percentile(l_extendedprice,"
                " array(0.49, 0.51, 0.89, 0.91, 0.98))"
            ).alias("pe"),
            F.max("l_extendedprice").alias("mx"),
        )
        .select(
            "l_returnflag",
            F.col("pa")[0].between(F.col("pe")[0], F.col("pe")[1]).alias("p50_ok"),
            F.col("pa")[1].between(F.col("pe")[2], F.col("pe")[3]).alias("p90_ok"),
            F.col("pa")[2].between(F.col("pe")[4], F.col("mx")).alias("p99_ok"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "string_agg_per_group",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    ORDER BY region
    """,
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): nations per
    region as one alphabetized CSV cell.  collect_list order is
    partition-nondeterministic in a distributed engine, so the sort
    guarantee is made EXPLICIT (array_sort before array_join) -- the
    registry's determinism rule for order-sensitive aggregates, and the
    reason the output is a scalar string the driver canonicalizer can
    sort."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("region")
    )
