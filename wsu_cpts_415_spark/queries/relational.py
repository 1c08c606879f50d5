"""Core relational queries over the fixture star schema.

Each query is the Spark-first expression of an operator family from
SURVEY.md §2 (reference file:line cited per query).  The flagship
``flagship_top_customers`` transposes the reference's link-analysis join
(analyze_links.py:111-145: explode -> count -> join -> sort) onto
orders/customer.

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``).  The DataFrame bodies left here
are queries whose oracle only DuckDB can run or differs from Spark in
value (``copurchase_part_pairs`` is also a staged layer);
``tests/test_source_lints.py`` measures this for every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

TOP_K = 20


# --------------------------------------------------------------------------
# Flagship: A1 group-count + J1 inner join + O1/O3 sort/top-k
# (reference analyze_links.py:120-145, transposed onto orders/customer)
# --------------------------------------------------------------------------
register_sql(
    "flagship_top_customers",
    """Top customers by order count: aggregate the fact side FIRST (so the
    join input is one row per customer), join the dimension, then
    TakeOrderedAndProject for the top-k.

    Scale notes: the aggregate shuffles orders once on o_custkey with
    map-side partial aggregation; customer is a dimension -> broadcast by
    size, no shuffle of the aggregated side; ORDER BY ... LIMIT k compiles to
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    global sort.  The reference instead sorts the counts table BEFORE its
    join (analyze_links.py:126-131) -- dead work we drop.
    """,
    f"""
    SELECT c.c_custkey,
           c.c_name,
           oc.order_cnt,
           ROUND(oc.total_spent, 2) AS total_spent
    FROM (
        SELECT o_custkey,
               COUNT(*) AS order_cnt,
               SUM(o_totalprice) AS total_spent
        FROM orders
        GROUP BY o_custkey
    ) oc
    JOIN customer c ON c.c_custkey = oc.o_custkey
    ORDER BY oc.order_cnt DESC, c.c_custkey ASC
    LIMIT {TOP_K}
    """,
)

register_sql(
    "sample_systematic",
    """Deterministic 5% systematic sample (key mod 20) aggregated per
    priority -- the reproducible subsetting pattern for pipeline
    debugging at scale.  Unlike TABLESAMPLE/df.sample, the predicate is
    engine-independent (same rows in Spark and DuckDB) and pushes to the
    scan; for unbiased estimates on skewed keys switch the predicate to
    a hash of the key, same shape.""",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(SUM(o_totalprice), 2) AS sampled_total
    FROM orders
    WHERE o_orderkey % 20 = 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)


_FK_RELS = [
    # (name, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


register_sql(
    "fk_orphan_audit",
    """Referential-integrity audit: for every foreign-key relationship in
    the star schema, how many child rows point at a missing parent --
    the data-quality gate a warehouse load runs before publishing (the
    engine twin of the reference's reject-channel accounting in
    io/ingest.py, which audits rows that fail to DECODE; this audits
    rows that fail to JOIN).

    Scale: each relationship is one left join against the DISTINCT
    parent-key projection -- dimensions broadcast, and the fact-side
    join never moves more than (child_key) columns; counts are
    map-side combined.  Relationships are independent, so on a cluster
    all seven run concurrently inside one action (the union is of
    1-row aggregates, not data).""",
    "\n    UNION ALL\n".join(
        f"""SELECT '{name}' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS BIGINT) AS n_orphans
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{ck} = p.{pk}"""
        for name, child, ck, parent, pk in _FK_RELS
    )
    + "\n    ORDER BY relationship",
)

register_sql(
    "monthly_revenue_growth",
    """Period-over-period reporting: monthly revenue with
    month-over-month and year-over-year growth percentages (LAG 1 and
    LAG 12 over the month series) -- the canonical finance trend table.

    Scale: orders collapse to |months| rows before the lag window; the
    calendar-bounded series makes the unpartitioned window safe at any
    corpus size (same grain argument as CUSUM/KM).""",
    """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY month
    )
    SELECT month, revenue, n_orders,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY month), 2)
               AS mom_change,
           ROUND((revenue / NULLIF(LAG(revenue) OVER (ORDER BY month), 0)
                  - 1) * 100, 4) AS mom_pct,
           ROUND((revenue / NULLIF(LAG(revenue, 12) OVER (ORDER BY month), 0)
                  - 1) * 100, 4) AS yoy_pct
    FROM monthly
    ORDER BY month
    """,
)


@register(
    "revenue_waterfall",
    oracle="""
    WITH parts AS (
        SELECT ROUND(SUM(l_extendedprice), 2) AS gross,
               ROUND(SUM(l_extendedprice * l_discount), 2) AS discount_given,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * l_tax), 2)
                   AS tax_collected,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS charged
        FROM lineitem
    )
    SELECT step, CAST(ord AS BIGINT) AS ord, amount
    FROM parts, LATERAL (VALUES
        ('gross_revenue', 1, gross),
        ('less_discounts', 2, -discount_given),
        ('net_revenue', 3, net),
        ('plus_tax', 4, tax_collected),
        ('total_charged', 5, charged)
    ) AS t(step, ord, amount)
    ORDER BY ord
    """,
)
def revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue decomposition waterfall: gross extended price, discounts
    given, net revenue, tax collected, total charged -- the five-step
    bridge every finance review wants, emitted as ordered rows a chart
    sink can consume directly.

    Scale: ONE aggregate over lineitem (five conditional sums in the
    same codegen span); the waterfall explode happens on the 1-row
    result."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = li.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("gross"),
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "discount_given"
        ),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("net"),
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * F.col("l_tax")
            ),
            2,
        ).alias("tax_collected"),
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ),
            2,
        ).alias("charged"),
    )
    steps = F.array(
        F.struct(F.lit("gross_revenue").alias("step"), F.lit(1).alias("ord"),
                 F.col("gross").alias("amount")),
        F.struct(F.lit("less_discounts").alias("step"), F.lit(2).alias("ord"),
                 (-F.col("discount_given")).alias("amount")),
        F.struct(F.lit("net_revenue").alias("step"), F.lit(3).alias("ord"),
                 F.col("net").alias("amount")),
        F.struct(F.lit("plus_tax").alias("step"), F.lit(4).alias("ord"),
                 F.col("tax_collected").alias("amount")),
        F.struct(F.lit("total_charged").alias("step"), F.lit(5).alias("ord"),
                 F.col("charged").alias("amount")),
    )
    return (
        parts.select(F.explode(steps).alias("s"))
        .select(
            F.col("s.step").alias("step"),
            F.col("s.ord").cast("bigint").alias("ord"),
            F.col("s.amount").alias("amount"),
        )
        .orderBy("ord")
    )


register_sql(
    "order_gap_histogram",
    """Purchase-cycle analysis: the distribution of day-gaps between a
    customer's consecutive orders, bucketed by month -- the input to
    replenishment forecasting and churn-risk cutoffs ("customers whose
    gap exceeds their historical p90 are churning").

    Scale: one customer-partitioned window (lag over each customer's
    order history), then a rollup on the bounded month-bucket key.""",
    """
    WITH gaps AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - LAG(CAST(o_orderdate AS DATE)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS gap_days
        FROM orders
    )
    SELECT CAST(FLOOR(gap_days / 30.0) AS BIGINT) AS gap_bucket_months,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY gap_bucket_months
    ORDER BY gap_bucket_months
    """,
)


@register(
    "fulfillment_delay_stats",
    oracle="""
    WITH delays AS (
        SELECT o.o_orderpriority,
               CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
                    AS BIGINT) AS delay_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(AVG(delay_days), 4) AS avg_delay,
           ROUND(quantile_cont(delay_days, 0.5), 4) AS p50_delay,
           ROUND(quantile_cont(delay_days, 0.9), 4) AS p90_delay,
           CAST(MAX(delay_days) AS BIGINT) AS max_delay
    FROM delays
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def fulfillment_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA view: days from order placement to line shipment,
    summarized per order priority (mean, exact p50/p90, worst case) --
    does the priority field actually buy faster shipping?

    Scale: a fact-fact equi-join on orderkey -- at 100 TB this is the
    bucketed co-located join (io/bucketing.py: both tables bucketed by
    orderkey, zero-Exchange plan) or a plain co-partitioned SMJ; the
    pruned projections (3 and 2 columns) keep the shuffled width
    minimal, and Catalyst may still broadcast at small SFs.  Delays
    aggregate on the bounded priority key with exact percentiles."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delays = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("delay_days"),
    )
    return (
        delays.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg("delay_days"), 4).alias("avg_delay"),
            F.round(F.expr("percentile(delay_days, 0.5)"), 4).alias("p50_delay"),
            F.round(F.expr("percentile(delay_days, 0.9)"), 4).alias("p90_delay"),
            F.max("delay_days").alias("max_delay"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "copurchase_part_pairs",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lines
    ),
    item_freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders_with
        FROM lines GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM lines a JOIN lines b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, n_both,
           ROUND(n_both * 1.0 / n, 6) AS support,
           ROUND((n_both * 1.0 / n)
                 / ((fa.n_orders_with * 1.0 / n)
                    * (fb.n_orders_with * 1.0 / n)), 4) AS lift
    FROM pairs, n_orders,
         item_freq fa, item_freq fb
    WHERE fa.l_partkey = part_a AND fb.l_partkey = part_b
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining on actual purchase lines: part pairs that
    appear in the same order at least 3 times, ranked by lift over
    their independent order frequencies -- the classic association-rule
    candidate list (top 20, fully tie-broken).

    Scale: the self-join is CO-PARTITIONED on l_orderkey (pairs only
    form within an order, so the shuffle key is the order key and pair
    blowup is bounded by lines-per-order squared, a per-task constant);
    item frequencies broadcast; the final ranking is
    TakeOrderedAndProject over the support-filtered pair sliver."""
    from wsu_cpts_415_spark.ops.staging import staged

    # r12: pairs are generated IN-ARRAY from one per-order sorted part
    # set (guide §2.4) -- the previous shape shuffled the distinct
    # (order, part) sliver three more times (self-join a-side, b-side,
    # item-frequency) where ONE l_orderkey shuffle suffices: collect_set
    # dedups within the order, combinations of the sorted array are
    # exactly the a.part < b.part join pairs, per-part order frequency
    # is an explode of the same set, and the order count is the group
    # count.  The staged array table is read by all three consumers.
    li = load_table(spark, sf_dir, "lineitem")
    orders = staged(
        spark,
        "copurchase_order_partsets",
        sf_dir,
        lambda: li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        ),
    )
    n_orders = orders.agg(F.count("*").alias("n"))
    item_freq = orders.select(
        F.explode("ps").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").alias("n_orders_with"))
    pairs = (
        orders.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ps"), i + 2, F.size(F.col("ps"))
                            ),
                            lambda y: F.struct(
                                x.alias("part_a"), y.alias("part_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.part_a"), F.col("p.part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    fa = item_freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_orders_with").alias("na")
    )
    fb = item_freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_orders_with").alias("nb")
    )
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n"), 6).alias("support"),
            F.round(
                (F.col("n_both") / F.col("n"))
                / ((F.col("na") / F.col("n")) * (F.col("nb") / F.col("n"))),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "return_rate_by_brand",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS BIGINT)
               AS n_returned,
           ROUND(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) * 1.0
                 / COUNT(*), 5) AS return_rate,
           ROUND(SUM(CASE WHEN l.l_returnflag = 'R'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END), 2) AS returned_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate league table per brand with the revenue at stake --
    the quality-escalation report.  Scale: part dim broadcasts, one
    fact scan, rollup on the bounded brand key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ret = F.when(F.col("l_returnflag") == "R", 1)
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(ret).alias("n_returned"),
            F.round(F.count(ret) / F.count("*"), 5).alias("return_rate"),
            F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    ).otherwise(0.0)
                ),
                2,
            ).alias("returned_revenue"),
        )
        .orderBy("p_brand")
    )


register_sql(
    "supplier_concentration_hhi",
    """Supply-chain concentration: the Herfindahl-Hirschman index of
    supplier revenue shares within each part type (1/n = perfectly
    split, 1.0 = single-sourced) -- the procurement-risk screen.

    Scale: one fact scan to the (type, supplier) grain, a |types|-row
    broadcast of totals, rollup on the bounded type key.""",
    """
    WITH by_type AS (
        SELECT p.p_type, l.l_suppkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type, l.l_suppkey
    ),
    tot AS (
        SELECT p_type, SUM(rev) AS type_rev FROM by_type GROUP BY p_type
    )
    SELECT b.p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(MAX(t.type_rev), 2) AS type_revenue,
           ROUND(SUM(POWER(b.rev / t.type_rev, 2)), 6) AS hhi
    FROM by_type b JOIN tot t ON b.p_type = t.p_type
    GROUP BY b.p_type
    ORDER BY b.p_type
    """,
)

register_sql(
    "discount_effectiveness",
    """Discount-elasticity view: average quantity and the net-revenue /
    discount-cost tradeoff per discount percentage band -- does a
    deeper discount actually move more units (the q6 what-if, as a
    report).  Scale: single scan, rollup on ~11 discount bands.""",
    """
    SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(AVG(l_quantity), 4) AS avg_quantity,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net_revenue,
           ROUND(SUM(l_extendedprice * l_discount), 2) AS discount_cost
    FROM lineitem
    GROUP BY discount_pct
    ORDER BY discount_pct
    """,
)

register_sql(
    "nation_trade_balance",
    """Two-sided national ledger: revenue each nation SUPPLIES (via its
    suppliers' line items) vs CONSUMES (via its customers' orders), and
    the balance -- the q7 volume-shipping view folded into one
    per-nation report.

    Scale: two independent star rollups over the same fact scan shape
    (dims broadcast, one fact shuffle each onto the 25-nation key),
    then a full-outer join of two 25-row tables.""",
    """
    WITH supply_side AS (
        SELECT n.n_name AS nation,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS supplied
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    demand_side AS (
        SELECT n.n_name AS nation,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS consumed
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT COALESCE(s.nation, d.nation) AS nation,
           ROUND(COALESCE(s.supplied, 0), 2) AS supplied_revenue,
           ROUND(COALESCE(d.consumed, 0), 2) AS consumed_revenue,
           ROUND(COALESCE(s.supplied, 0) - COALESCE(d.consumed, 0), 2)
               AS trade_balance
    FROM supply_side s FULL JOIN demand_side d ON s.nation = d.nation
    ORDER BY nation
    """,
)


@register(
    "weekly_ohlc_orders",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
                   AS week,
               CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS v
        FROM orders GROUP BY 1, 2
    )
    SELECT week,
           ROUND(arg_min(v, day), 2) AS open,
           ROUND(MAX(v), 2) AS high,
           ROUND(MIN(v), 2) AS low,
           ROUND(arg_max(v, day), 2) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
    GROUP BY week
    ORDER BY week
    """,
)
def weekly_ohlc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC resample of the daily order-value series: open/close
    as the first/last day's total via min_by/max_by (argmin/argmax
    aggregates -- no window, no sort, resolved inside the hash
    aggregate), high/low as plain extrema.  The financial-style
    downsample every time-series store offers, here as two partial-agg
    shuffles: day grain then week grain.  Days are unique within a
    week's group by construction (pre-aggregated), so the argmin is
    deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.date_trunc("week", "o_orderdate")).alias("week"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("v"))
    return (
        daily.groupBy("week")
        .agg(
            F.round(F.min_by("v", "day"), 2).alias("open"),
            F.round(F.max("v"), 2).alias("high"),
            F.round(F.min("v"), 2).alias("low"),
            F.round(F.max_by("v", "day"), 2).alias("close"),
            F.count("*").alias("n_days"),
        )
        .orderBy("week")
    )
