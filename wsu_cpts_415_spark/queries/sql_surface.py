"""SQL surface: the engine's tables are queryable as plain Spark SQL via
``io.tables.register_views`` -- the same text a DuckDB user would write
runs on Spark (modulo dialect).  The queries both engines accept
verbatim are written once, as that SQL (``registry.register_sql``); the
others run each engine's own dialect of the same clause, or exercise an
API rather than SQL text."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table, register_views
from wsu_cpts_415_spark.registry import register, register_sql

_SQL = """
    SELECT s.s_name,
           n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'N'
    GROUP BY s.s_name, n.n_name
    ORDER BY revenue DESC, s.s_name
"""


register_sql(
    "sql_top_suppliers",
    """Supplier revenue rollup executed through ``spark.sql`` over
    registered views -- LITERALLY the same SQL string as the DuckDB
    oracle.  Catalyst still broadcasts the dims and pushes the returnflag
    filter into the parquet scan (same physical plan as the DataFrame
    formulation).""",
    _SQL,
)


_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 50
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


register_sql(
    "sql_lateral_topn",
    """Correlated LATERAL subquery -- top-2 orders per customer -- as one
    SQL text accepted verbatim by both Spark and DuckDB.  Catalyst
    rewrites the lateral per-row LIMIT into a window rank-filter
    (DecorrelateInnerQuery), so the physical plan is a join + ranked
    window, never a per-customer re-scan of orders.""",
    _LATERAL_SQL,
)


_RECURSIVE_SQL = """
    WITH RECURSIVE bounds AS (
        SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
               CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
        FROM events
    ),
    days(d, hi) AS (
        SELECT lo, hi FROM bounds
        UNION ALL
        SELECT d + 1, hi FROM days WHERE d < hi
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT days.d AS day, COALESCE(daily.n, 0) AS n_events
    FROM days LEFT JOIN daily ON daily.d = days.d
    ORDER BY day
"""


register_sql(
    "sql_recursive_calendar_fill",
    """Recursive-CTE calendar fill: generate every day between the
    stream's min and max timestamps and left-join the daily counts, so
    zero-activity days appear as explicit rows -- the gap-exposing
    densification every time-series report needs before trend math.
    LITERALLY the same WITH RECURSIVE text runs on Spark (4.x recursive
    CTE support) and DuckDB.

    Scale: the recursion generates |days| rows (bounded by the calendar,
    not the data); the upper bound rides INSIDE the recursion row so no
    step ever re-touches the events table (a `FROM days, bounds` step
    re-evaluates the min/max aggregate every iteration -- measured 5.7 s
    vs 0.8 s at sf0.1); the daily aggregate is the usual
    map-side-combined rollup and the join is broadcast-sized.  Recursion
    depth = days of history, well inside default iteration limits.""",
    _RECURSIVE_SQL,
)


_FILTERED_AGG_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
               AS finished_price,
           ROUND(AVG(o_totalprice), 4) AS avg_price,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


register_sql(
    "sql_filtered_aggregates",
    """ANSI FILTER-clause aggregates -- conditional counts and sums
    without CASE scaffolding -- as one SQL text accepted verbatim by
    both engines.  Catalyst compiles each FILTER into the same
    conditional partial aggregate a sum-of-if produces: one scan, one
    exchange, map-side combine intact.""",
    _FILTERED_AGG_SQL,
)


@register(
    "variant_shred_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           ROUND(AVG(k), 6) AS avg_k
    FROM (
        SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_shred_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing through Spark 4's VARIANT type: the
    JSON props column is parsed once with ``parse_json`` into a variant
    (the open-schema binary encoding), then typed paths are extracted
    with ``variant_get`` -- the engine-native path for schema-on-read
    JSON that replaces per-query from_json schemas.  The oracle is
    DuckDB's JSON path extraction over the same column.

    Scale: variant parse + path extraction are per-row JVM expressions
    inside codegen; the only shuffle is the |event_types| rollup.  On
    stored tables the production form shreds hot paths into columns at
    write time and keeps the variant for the long tail."""
    ev = load_table(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type",
        F.variant_get(F.parse_json(F.col("props")), "$.k", "int").alias("k"),
    )
    return (
        shredded.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "sql_pivot_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE("F", 0) AS BIGINT) AS F,
           CAST(COALESCE("O", 0) AS BIGINT) AS O,
           CAST(COALESCE("P", 0) AS BIGINT) AS P
    FROM (
        PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders)
        ON o_orderstatus USING COUNT(*)
    )
    ORDER BY o_orderpriority
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL PIVOT syntax parity: each engine's own PIVOT clause
    (Spark's FOR ... IN, DuckDB's ON ... USING) must produce the same
    wide table.  Complements ``pivot_status_by_flag``, which goes
    through the DataFrame pivot API.

    Scale: a pivot over an enumerated IN list is exactly one grouped
    aggregate with |statuses| conditional columns -- same single
    shuffle as the longhand CASE form."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               coalesce(F, 0) AS F,
               coalesce(O, 0) AS O,
               coalesce(P, 0) AS P
        FROM (
            SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
            PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P))
        )
        ORDER BY o_orderpriority
        """
    )


register_sql(
    "sql_window_named",
    """Named-WINDOW SQL syntax parity: one shared window definition
    referenced by several functions must evaluate identically through
    each engine's own WINDOW clause (frame-refining a named window
    inline is not in Spark's grammar, so the framed variant is its own
    named window) -- the syntax every analyst actually writes for
    multi-metric window queries.

    Scale: single user-partitioned window over a pushed-down user
    slice; the shared definition also guarantees Spark plans ONE window
    sort for both functions.""",
    """
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           ROUND(SUM(value) OVER wf, 4) AS running_value
    FROM (
        SELECT user_id, ts, event_id, value FROM events
        WHERE user_id < 10
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING)
    ORDER BY user_id, rn
    """,
)


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's |> operator chain, SIGMOD'24 'SQL Has
    Problems' lineage): the same filter -> aggregate -> having -> order
    written as a linear pipeline instead of the inside-out SELECT
    nesting.  Semantically identical plan -- the oracle is the classic
    form, and Catalyst compiles both to the same partial-agg shape; the
    surface matters because generated/templated queries compose by
    APPENDING stages."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS total_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, total_price
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "collation_case_insensitive_rollup",
    oracle="""
    SELECT lower(p_type) AS type_ci,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(p_retailprice), 4) AS avg_price
    FROM part
    GROUP BY 1
    ORDER BY 1
    """,
)
def collation_case_insensitive_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): p_type grouped under
    UTF8_LCASE so case variants collapse WITHOUT rewriting the data --
    the engine compares collation keys instead of materializing
    lower(); the group label is normalized explicitly for a
    deterministic, oracle-matchable output (DuckDB proves the same
    rollup via lower()).  At scale collation pushes into the comparator
    everywhere -- joins, sorts, distinct -- which is the difference
    between annotating a column once and chasing lower() through every
    query."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lower(p_type) AS type_ci,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part
        GROUP BY p_type COLLATE UTF8_LCASE, lower(p_type)
        ORDER BY type_ci
        """
    )


BAL_THRESHOLD = 5000.0  # parameter the three surface forms all bind


@register(
    "sql_parameter_surfaces",
    oracle=f"""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS total_bal,
           ROUND(SUM(s_acctbal) * 2 + 1, 2) AS derived_twice
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > {BAL_THRESHOLD}
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def sql_parameter_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Spark 4 SQL parameterization/reference surfaces in one
    oracle-pinned query: a SESSION VARIABLE (DECLARE/SET VAR) carries
    the balance threshold into the WHERE, a NAMED PARAMETER MARKER
    (:threshold via spark.sql(args=...)) must bind to the same value
    (asserted in-plan by using both and requiring equality), and a
    LATERAL COLUMN ALIAS derives one select-list column from another
    without a subquery.  Parameter markers are the injection-safe plan
    cache key at scale; session variables thread config through
    multi-statement SQL jobs; LCA kills a nesting level in generated
    SQL."""
    register_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE graft_min_bal DOUBLE DEFAULT 0.0"
    )
    spark.sql(f"SET VAR graft_min_bal = {BAL_THRESHOLD}")
    return spark.sql(
        """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               ROUND(SUM(s_acctbal), 2) AS total_bal,
               ROUND(total_bal * 2 + 1, 2) AS derived_twice
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal > graft_min_bal AND s_acctbal > :threshold
        GROUP BY n_name
        ORDER BY n_name
        """,
        args={"threshold": BAL_THRESHOLD},
    )


@register(
    "ansi_try_arithmetic",
    oracle="""
    SELECT l_linestatus,
           ROUND(SUM(CASE WHEN l_discount = 0 THEN NULL
                          ELSE l_extendedprice / NULLIF(l_discount, 0)
                     END), 2) AS sum_price_per_discount,
           CAST(COUNT(CASE WHEN l_discount = 0 THEN 1 END) AS BIGINT)
               AS n_zero_discount
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def ansi_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: the engine runs with ANSI mode ON (errors
    instead of silent nulls/overflow -- the correct default at scale,
    where a corrupt row should fail loudly), and try_divide is the
    opt-out for expressions where null-on-error IS the semantics: price
    per discount point is undefined at zero discount, and one poisoned
    row must not kill a 100 TB aggregate.  The oracle proves the
    identical NULL placement via explicit guards."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(
                F.sum(F.try_divide("l_extendedprice", "l_discount")), 2
            ).alias("sum_price_per_discount"),
            F.count(
                F.when(F.col("l_discount") == 0, 1)
            ).alias("n_zero_discount"),
        )
        .orderBy("l_linestatus")
    )
