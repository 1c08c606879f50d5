"""Set-operation queries (SURVEY.md §2.8: none in the reference; free in
Spark, exposed by the engine).

Each query is written once, as SQL: its DuckDB oracle is also its Spark
body, run through ``spark.sql`` over the fixture views
(``registry.register_sql``).  Catalyst plans INTERSECT/EXCEPT as semi
and anti joins, and the ALL forms as count-compare aggregates.
"""

from __future__ import annotations

from wsu_cpts_415_spark.registry import register_sql

register_sql(
    "set_union_distinct",
    """UNION (distinct): customers urgent-ordering OR in BUILDING.""",
    """
    SELECT custkey FROM (
        SELECT DISTINCT o_custkey AS custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
        UNION
        SELECT c_custkey AS custkey FROM customer
        WHERE c_mktsegment = 'BUILDING'
    )
    ORDER BY custkey
    """,
)

register_sql(
    "set_intersect",
    """INTERSECT: urgent-ordering customers in the BUILDING segment.
    Catalyst rewrites to a left-semi join -- same plan we'd write by hand.""",
    """
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT c_custkey AS custkey FROM customer
    WHERE c_mktsegment = 'BUILDING'
    ORDER BY custkey
    """,
)

register_sql(
    "set_except",
    """EXCEPT: BUILDING customers who never placed an urgent order
    (anti-join under the hood).""",
    """
    SELECT c_custkey AS custkey FROM customer
    WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    ORDER BY custkey
    """,
)

register_sql(
    "union_all_counts",
    """UNION ALL of heterogeneous sources projected to one shape --
    the engine's multi-file-ingest shape (S1 is implicitly this).""",
    """
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
    )
    GROUP BY kind
    ORDER BY kind
    """,
)

register_sql(
    "set_intersect_all",
    """INTERSECT ALL: bag semantics -- a custkey appearing m times on the
    left and n times on the right survives min(m, n) times.  Spark plans
    it as a count-compare aggregate (no distinct collapse), one shuffle
    per side.""",
    """
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY custkey
    """,
)

register_sql(
    "set_except_all",
    """EXCEPT ALL: bag difference -- max(m - n, 0) copies survive, so
    multiplicity carries information (how many more urgent orders than
    finished ones a customer has) that EXCEPT's distinct form discards.""",
    """
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY custkey
    """,
)
