"""TPC-H q1-q22 on the fixture star schema, plus the DataFrame pivot case.

These are the benchmark's ``relational`` workload (``perfbench/run.py``,
BENCHMARK.json) -- classic OLAP shapes whose physical plans exercise scan
pruning, partial aggregation, broadcast vs shuffle join selection,
subquery decorrelation and top-k.

Each query is written once, as ANSI SQL.  The same text is the DuckDB
oracle and, through ``spark.sql`` over the fixture views
(``registry.register_sql``), the Spark query: SQL text and DataFrames
compile to the same Catalyst plan, so a second DataFrame formulation
would buy no plan.  Join strategy is the planner's, through
``spark.sql.autoBroadcastJoinThreshold``.

Query letters follow TPC-H numbering; predicates are adapted to the
fixture's value domains (FIXTURES.md §A).  The fixture has no
``partsupp`` table, no ``l_commitdate``/``l_receiptdate``, and no
``c_phone``, ``s_comment`` or ``ps_*`` columns, so the queries that need
them are adapted:

* partsupp is derived as ``SELECT DISTINCT l_partkey, l_suppkey FROM
  lineitem``;
* "late delivery" is shipping more than 60 days after the order date;
* the missing columns are replaced per query (see each scale note).

Every adaptation keeps the *operator shape* that makes the original query
interesting -- correlated scalar aggregates, EXISTS / NOT EXISTS
decorrelation, scalar-subquery HAVING, histogram-of-counts -- which is
what the engine must plan well at scale.  Each query's scale note sits
beside its SQL and is its ``__doc__``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

register_sql(
    "q1_pricing_summary",
    """TPC-H Q1: one scan, 2-key GROUP BY, 8 aggregates.  Entirely
    map-side-combinable (partial aggregates before the one exchange); the
    shuffle carries ~6 groups regardless of input size.""",
    """
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

register_sql(
    "q2_min_cost_supplier",
    """TPC-H Q2 shape: the correlated MIN subquery (cheapest supplier per
    part within a region) as a window MIN over the candidate set -- one
    shuffle on p_partkey instead of a per-part subquery.  Adapted: min
    supplier account balance stands in for min supply cost.  The derived
    partsupp DISTINCT runs over all of lineitem before the selective
    part/region joins.""",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
        SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
               s.s_acctbal, n.n_name
        FROM ps
        JOIN part p     ON p.p_partkey = ps.l_partkey
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE' AND p.p_size BETWEEN 1 AND 25
    )
    SELECT p_partkey, p_brand, s_name,
           ROUND(s_acctbal, 2) AS s_acctbal,
           n_name AS nation
    FROM (
        SELECT *, MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
        FROM cand
    )
    WHERE s_acctbal = min_bal
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)

register_sql(
    "q3_shipping_priority",
    """TPC-H Q3 shape: selective customer-segment filter joined into the
    orders/lineitem fact join, then top-10 by aggregated revenue (a
    TakeOrderedAndProject, never a global sort).""",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)

register_sql(
    "q4_order_priority",
    """TPC-H Q4 shape: EXISTS correlated subquery, decorrelated by
    Catalyst into a LEFT SEMI join of orders against lineitem with the
    date comparison as the join's residual condition.""",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate < o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)

register_sql(
    "q5_local_supplier_volume",
    """TPC-H Q5 shape: six-table join with the customer-supplier
    same-nation condition folded into the supplier join.""",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)

register_sql(
    "q6_forecast_revenue",
    """TPC-H Q6: pure scan-filter-aggregate; every predicate reaches
    PushedFilters so row groups outside the date/discount range are
    skipped entirely, and the scan reads 4 columns.""",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

register_sql(
    "q7_volume_shipping",
    """TPC-H Q7: bilateral trade volume between two nations by year.
    ``nation`` joins twice under different keys (supplier side and
    customer side); the final aggregate is 2 nations x 2 years.""",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

register_sql(
    "q8_market_share",
    """TPC-H Q8: one nation's share of regional revenue for one part type,
    by order year.  Eight-table join; the conditional-sum / sum ratio
    folds into a single aggregate pass.""",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)

register_sql(
    "q9_product_type_profit",
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name pattern.  Adapted: with no ps_supplycost, cost is
    modeled as 0.5 * p_retailprice * quantity -- same expression shape
    (fact measure minus dim-priced cost), same join graph minus partsupp.""",
    """
    SELECT nation,
           o_year,
           ROUND(SUM(amount), 2) AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               l.l_extendedprice * (1 - l.l_discount)
                 - 0.5 * p.p_retailprice * l.l_quantity AS amount
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

register_sql(
    "q10_returned_items",
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.""",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)

register_sql(
    "q11_important_stock",
    """TPC-H Q11 shape: per-part value restricted to one nation's
    suppliers, HAVING a scalar subquery over the same aggregate (parts
    worth > 0.5% of the national total).  The scalar total is planned as
    a separate subquery over the same CTE.""",
    """
    WITH val AS (
        SELECT l.l_partkey AS ps_partkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS part_value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_5'
        GROUP BY l.l_partkey
    )
    SELECT ps_partkey, ROUND(part_value, 2) AS part_value
    FROM val
    WHERE part_value > (SELECT SUM(part_value) * 0.005 FROM val)
    ORDER BY part_value DESC, ps_partkey
    """,
)

register_sql(
    "q12_shipmode_priority",
    """TPC-H Q12 shape: conditional-count aggregation after a fact-fact
    join; the date filter is pushed into the lineitem scan so the join
    input is pre-pruned.""",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)

register_sql(
    "q13_customer_distribution",
    """TPC-H Q13: order-count histogram over a left outer join (customers
    with zero qualifying orders must appear with c_count = 0).  Two
    aggregations: per-customer count, then histogram-of-counts; the
    second groups on a tiny domain so it collapses map-side.""",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

register_sql(
    "q14_promo_revenue",
    """TPC-H Q14 shape: conditional revenue ratio over the part dimension
    join, single global aggregate.""",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-07-01'
    """,
)

register_sql(
    "q15_top_supplier",
    """TPC-H Q15: supplier(s) with max quarterly revenue -- a scalar MAX
    subquery over a derived view.  Revenue rounds to cents BEFORE the max
    comparison so Spark/DuckDB float-sum ordering cannot flip equality.""",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)

register_sql(
    "q16_parts_supplier_relationship",
    """TPC-H Q16 shape: distinct-supplier counts per part attribute with a
    NOT IN exclusion subquery, planned as a null-aware LEFT ANTI join
    against the small excluded-supplier side.  Adapted: the excluded set
    is suppliers with negative account balance (no s_comment).""",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)

register_sql(
    "q17_small_quantity_revenue",
    """TPC-H Q17: correlated scalar AVG -- lineitems below 20% of their
    part's average quantity.  Catalyst decorrelates it into a per-part
    aggregate joined back on partkey; the joins broadcast, so the fact
    table is never shuffled for a join.""",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey)
    """,
)

register_sql(
    "q18_large_orders",
    """TPC-H Q18 shape: HAVING on a fact aggregate, then joins and top-k.
    The lineitem aggregate runs first, so the join input is one row per
    qualifying order.""",
    """
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(lq.total_qty, 2) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    ) lq
    JOIN orders o   ON o.o_orderkey = lq.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)

register_sql(
    "q19_disjunctive_revenue",
    """TPC-H Q19 shape: OR-of-ANDs predicates across both join sides.
    Catalyst extracts the single-side conjuncts it can (quantity bounds
    to the lineitem scan, brand/size/type to the part scan) and evaluates
    the residual disjunction after the join.""",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_type LIKE 'PROMO%' AND l.l_quantity >= 30)
    """,
)

register_sql(
    "q20_potential_promotion",
    """TPC-H Q20 shape: IN over an aggregated subquery, planned as a LEFT
    SEMI join.  Adapted: suppliers who shipped > 100 units of PROMO parts
    in 1996 (no ps_availqty to compare against).""",
    """
    SELECT s.s_name, s.s_suppkey
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 100
    )
    ORDER BY s.s_suppkey
    """,
)

register_sql(
    "q21_suppliers_waiting",
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier order.  The EXISTS / NOT EXISTS pair is written as a
    per-order COUNT(DISTINCT) aggregate joined back to the late rows, so
    the plan has equi-joins and no nested loop; it scans lineitem twice
    and sort-merge-joins the two sides.  Adapted: "late" = shipped > 60
    days after the order date.""",
    """
    WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
                 AS n_late_supp
        FROM lo GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo
    JOIN per_order po ON po.l_orderkey = lo.l_orderkey
    JOIN supplier s   ON s.s_suppkey = lo.l_suppkey
    WHERE lo.is_late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)

register_sql(
    "q22_global_sales_opportunity",
    """TPC-H Q22 shape: customers with above-average balance and no
    orders -- a scalar AVG subquery plus NOT EXISTS as a LEFT ANTI join.
    Adapted: country code = c_nationkey (no c_phone).""",
    """
    SELECT cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM (
        SELECT c.c_nationkey AS cntrycode, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT AVG(c2.c_acctbal) FROM customer c2
            WHERE c2.c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)


@register(
    "pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS O,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list, so no extra distinct-values job)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .select(
            "l_returnflag",
            F.round("O", 2).alias("O"),
            F.round("F", 2).alias("F"),
        )
        .orderBy("l_returnflag")
    )
