"""Join queries (SURVEY.md §2.5): the reference uses only inner equi-join
(J1, analyze_links.py:141); the engine exposes Spark's full join surface.

Scale notes apply to every query here: dimension tables (region, nation,
customer at fixture scale; region/nation always) are broadcast by size
(``spark.sql.autoBroadcastJoinThreshold``) so the fact side never
shuffles for the join; fact-fact joins shuffle on the join key once and
AQE handles skew.

A query whose oracle Spark runs verbatim is registered from that SQL
text alone (``registry.register_sql``); the DataFrame bodies left here are
a kernel, join-strategy hints and oracles only DuckDB can run.
``DATAFRAME_BODIES`` in ``tests/test_source_lints.py`` gives the reason
of each DataFrame body whose oracle Spark runs and matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql


register_sql(
    "join_star_revenue",
    """Five-table star join -> revenue by region/nation.

    lineitem⋈orders is the only shuffle join (both fact-sized, equi on
    orderkey); customer/nation/region are broadcast by size
    (``spark.sql.autoBroadcastJoinThreshold``), so the enriched fact
    stream never re-shuffles until the final GROUP BY.""",
    """
    SELECT r.r_name AS region,
           n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region, nation
    """,
)

register_sql(
    "join_left_outer",
    """Left outer join preserving customers with zero orders; COUNT(col)
    ignores the null-extended rows.""",
    """
    SELECT c.c_custkey,
           c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
)

register_sql(
    "join_semi",
    """Left-semi join (EXISTS): customers with at least one urgent order.
    Semi-join keeps the build side tiny -- only the key column crosses the
    wire, no row multiplication.""",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)

register_sql(
    "join_anti",
    """Left-anti join (NOT EXISTS): parts never ordered in bulk
    (no lineitem with quantity > 45).  The engine's reject-analysis /
    dedup-diff primitive (SURVEY.md §2.5 note).""",
    """
    SELECT p.p_partkey, p.p_name
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
    )
    ORDER BY p.p_partkey
    """,
)

register_sql(
    "join_full_outer",
    """Full outer join of two aggregates (nations with customers and/or
    suppliers), null-sides coalesced to 0.""",
    """
    WITH cust_n AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM customer GROUP BY c_nationkey
    ), supp_n AS (
        SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
        FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM cust_n c
    FULL OUTER JOIN supp_n s ON c.c_nationkey = s.s_nationkey
    ORDER BY nationkey
    """,
)

register_sql(
    "join_range_theta",
    """Theta join: equi part (nationkey) + range predicate (acctbal >).

    Spark plans the equi component as the join key (hash/broadcast) and
    evaluates the range predicate as a post-join filter -- the scalable
    formulation of an otherwise O(n*m) nested loop.""",
    """
    SELECT s.s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_richer_cust
    FROM supplier s
    JOIN customer c ON c.c_acctbal > s.s_acctbal AND c.c_nationkey = s.s_nationkey
    GROUP BY s.s_suppkey
    ORDER BY s.s_suppkey
    """,
)


@register(
    "join_asof_last_signup",
    oracle="""
    WITH signups AS (
        SELECT user_id, ts FROM events WHERE event_type = 'signup'
    ),
    purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(s.ts AS TIMESTAMP) AS last_signup_ts
    FROM purchases p
    ASOF LEFT JOIN signups s
        ON p.user_id = s.user_id AND p.ts >= s.ts
    ORDER BY p.event_id
    """,
)
def join_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the most recent signup of the same
    user at-or-before the purchase timestamp (Spark has no ASOF JOIN
    operator; DuckDB's native ASOF JOIN is the oracle).

    Spark-first formulation: union both event kinds into one stream and
    carry the last signup timestamp forward with a per-user ordered window
    (last(ignorenulls) over rowsBetween(unboundedPreceding, current)) --
    ONE shuffle on user_id, no range join, no per-row probe.  The
    same-timestamp tie orders signup before purchase so an equal-ts signup
    is visible, matching ASOF's >= semantics.  At 100 TB this beats the
    range-join formulation because state per user is one value and the
    sort is within user partitions (time-ordered data sorts nearly free)."""
    events = load_table(spark, sf_dir, "events")
    tagged = events.filter(
        F.col("event_type").isin("signup", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("prio"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "prio", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_signup_ts",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("ts")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_signup_ts",
        )
        .orderBy("event_id")
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer->nation rollup executed through the explicit
    skew-salting kernel (ops/skew.py): the fact side gets a
    deterministic row-hash salt, the 25-row dimension is replicated
    per salt, and the join runs on (key, salt) so no task ever owns a
    hot nation's full row set.  The oracle is the PLAIN join -- the
    whole point is that salting is invisible in the result.

    Scale: nationkey is the textbook hot-key join (25 distinct values
    over the whole customer table); with 8 salts each task owns at most
    ~1/8th of one nation.  AQE's skew splitting covers the same hazard
    reactively for sort-merge joins; salting is the planned form that
    also works for hash joins and pre-partitioned layouts."""
    from wsu_cpts_415_spark.ops.skew import salted_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    ).withColumnRenamed("n_nationkey", "c_nationkey")
    joined = salted_join(cust, nat, "c_nationkey", n_salts=8)
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("nation")
    )


@register(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy control: the same orders-customer rollup
    the optimizer would broadcast, forced to a SHUFFLED-HASH join via
    hint.  At 100 TB this is the knob for the middle regime -- the build
    side too big to broadcast but small enough to hash per partition --
    where the default sort-merge pays two full sorts the hash join
    skips.  Strategy hints change the physical plan ONLY: the oracle
    (and the plan gate in tests/test_plans.py asserting
    ShuffledHashJoin) pins that the answer is strategy-invariant."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("segment")
    )


_BLOOM_CONFS = {
    # make the injection fire at fixture scale: the rule normally
    # requires a >=10 GB application-side scan, which is exactly the
    # regime the gate is FOR at 100 TB
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # the bloom prune matters on the non-broadcast path; force it so the
    # demonstration is honest at every sf
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_pruned_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan runtime_bloom_pruned_join materializes; split out so
    tests/test_plans.py can assert the might_contain injection on the
    un-executed plan inside the same conf scope."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return (
        li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "runtime_bloom_pruned_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    GROUP BY 1 ORDER BY 1
    """,
)
def runtime_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime row-level filtering: Catalyst's InjectRuntimeFilter builds
    a bloom filter over the SELECTIVE side's join keys at runtime and
    applies might_contain() to the fact scan BEFORE the shuffle -- at
    100 TB this is the difference between shuffling all of lineitem and
    shuffling only the ~selectivity fraction that can possibly match.
    The thresholds are scoped down so the injection fires at fixture
    scale (the default 10 GB application-side bar is the production
    setting); results are conf-invariant, which the oracle pins, and the
    might_contain injection itself is pinned by a plan gate.  Executed
    inside the conf scope (optimization happens at action time), then
    returned as a local frame."""
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _bloom_pruned_plan(spark, sf_dir)
        out = spark.createDataFrame(df.collect(), df.schema)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@register(
    "join_null_safe_eq",
    oracle="""
    WITH keyed AS (
        SELECT event_id,
               CASE WHEN props IS NULL THEN NULL
                    ELSE CAST(json_extract(props, '$.k') AS BIGINT) % 3
               END AS k,
               value
        FROM events
    ),
    dim AS (
        SELECT NULL AS k, 'missing' AS bucket_name
        UNION ALL SELECT 0, 'k0' UNION ALL SELECT 1, 'k1'
        UNION ALL SELECT 2, 'k2'
    )
    SELECT d.bucket_name,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value
    FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.bucket_name
    ORDER BY d.bucket_name
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): rows whose
    derived key is NULL join the dimension's NULL bucket instead of
    silently vanishing -- the semantics every dimensional rollup with
    an optional attribute needs, and the one a plain = join gets wrong
    (NULL = NULL is NULL, so unkeyed facts drop out of an inner join).
    The null-safe comparison is still an EQUI key to Spark: it hashes
    a null-safe wrapper of the key, so the join stays a hash/broadcast
    join, not a theta join -- asserted by the oracle agreeing on the
    'missing' bucket's totals."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        F.when(
            F.col("props").isNull(), F.lit(None).cast("bigint")
        ).otherwise(
            F.get_json_object("props", "$.k").cast("bigint") % 3
        ).alias("k"),
        "value",
    )
    dim = spark.createDataFrame(
        [(None, "missing"), (0, "k0"), (1, "k1"), (2, "k2")],
        "k bigint, bucket_name string",
    )
    return (
        keyed.join(F.broadcast(dim), keyed["k"].eqNullSafe(dim["k"]))
        .groupBy("bucket_name")
        .agg(
            F.count("event_id").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("bucket_name")
    )
