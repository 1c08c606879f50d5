"""User-lifecycle analytics over the ``events`` stream table: weekly
retention cohorts and consecutive-day activity streaks (gap-and-islands).

Product-analytics staples that exercise distinct relational shapes not
covered elsewhere in the suite: a self-referential min-aggregate join
(cohort assignment) and the rank-difference islands trick (streaks) --
both with total-order determinism.

Scale design:
  * Cohort assignment is two hash aggregates (distinct user-weeks, then
    min week per user) and one shuffle join on user_id; the final rollup
    groups on (cohort_week, offset) -- tiny output cardinality.
  * Streak detection needs one window sort per user partition
    (row_number over activity days); the groupBy on the island key is a
    map-side-combinable aggregate.  Per-user day counts are bounded
    (days since epoch), so no partition can skew unboundedly.

``activity_streaks`` is written once, as its oracle SQL: Spark runs that
text verbatim over the fixture views (``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.queries.events import SESSION_GAP_MIN
from wsu_cpts_415_spark.ops.scalable_rank import (
    SCALABLE_RANK_ROWS,
    global_row_number_scalable,
    ntile_from_rn,
    rank_bounds,
)
from wsu_cpts_415_spark.ops.staging import staged, staged_model
from wsu_cpts_415_spark.registry import register, register_sql


@register(
    "retention_cohorts",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    first_wk AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, u.wk) // 7 AS INT)
               AS week_offset,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users
    FROM uw u JOIN first_wk f USING (user_id)
    GROUP BY f.cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users bucketed by first-activity week
    (Monday-truncated), counted in each subsequent week they return.
    The classic cohort triangle every growth dashboard renders."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    first_wk = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(first_wk, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


register_sql(
    "activity_streaks",
    """Consecutive-day activity streaks per user via the gap-and-islands
    rank-difference trick: activity date minus its per-user row_number is
    constant exactly along an unbroken daily run.""",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d
               ) AS INTEGER) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
)


@register(
    "rfm_segmentation",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events
    ),
    base AS (
        SELECT user_id,
               CAST(date_diff('day', MAX(CAST(ts AS TIMESTAMP)),
                              (SELECT max_ts FROM anchor)) AS BIGINT)
                   AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(SUM(value), 4) AS monetary
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, recency_days, frequency, monetary,
               NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r,
               NTILE(5) OVER (ORDER BY frequency, user_id) AS f,
               NTILE(5) OVER (ORDER BY monetary, user_id) AS m
        FROM base
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(r * 100 + f * 10 + m AS INT) AS rfm_code
    FROM scored
    ORDER BY user_id
    """,
)
def rfm_segmentation(
    spark: SparkSession,
    sf_dir: str,
    scalable_rows: int = SCALABLE_RANK_ROWS,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation over
    purchase events: per-user days-since-last-purchase anchored at the
    dataset's max timestamp (reproducible -- no wall clock), purchase
    count, and value total, each scored 1-5 by NTILE with a user_id
    tie-break so both engines cut identical quintiles; rfm_code packs
    the three digits.

    Scale: one filtered aggregate over users; above ``scalable_rows``
    the three NTILEs come from the range-partitioned exact global rank
    (``ops/scalable_rank.py`` -- closed-form NTILE over the bucketed
    row_number, no single-partition window anywhere), below it from the
    plain windows; both paths are value-identical
    (``tests/test_scalable_rank.py`` forces both at fixture scale)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    anchor = purchases.agg(F.max("ts").alias("max_ts"))

    def build_base() -> DataFrame:
        return (
            purchases.groupBy("user_id")
            .agg(
                F.max("ts").alias("last_ts"),
                F.count("*").alias("frequency"),
                F.round(F.sum("value"), 4).alias("monetary"),
            )
            .crossJoin(F.broadcast(anchor))
            .select(
                "user_id",
                F.datediff(F.to_date("max_ts"), F.to_date("last_ts"))
                .cast("bigint")
                .alias("recency_days"),
                "frequency",
                "monetary",
            )
        )

    # the user-grain base feeds a routing action plus (on the scalable
    # path) three rank passes -- stage it once, session-released via
    # clear_staged()
    base = staged(spark, "rfm_base", sf_dir, build_base)
    stats = staged_model(
        spark,
        "rfm_bounds",
        sf_dir,
        lambda: rank_bounds(base, ["recency_days", "frequency", "monetary"]),
    )
    n = stats["n"]
    if n > scalable_rows:
        # three INDEPENDENT rank passes off the persisted base, joined
        # back slim on user_id -- chaining the passes instead would nest
        # each pass's two base reads multiplicatively (measured 11.8x at
        # sf1 before this restructure; ~2x after)
        def tile(col: str, descending: bool, name: str) -> DataFrame:
            return global_row_number_scalable(
                base,
                col,
                [F.asc("user_id")],
                stats["bounds"][col],
                descending=descending,
                out_col="_rn",
            ).select(
                "user_id", ntile_from_rn(F.col("_rn"), n, 5).alias(name)
            )

        scored = (
            base.join(tile("recency_days", True, "r"), "user_id")
            .join(tile("frequency", False, "f"), "user_id")
            .join(tile("monetary", False, "m"), "user_id")
            .select(
                "user_id", "recency_days", "frequency", "monetary",
                "r", "f", "m",
            )
        )
    else:
        r = F.ntile(5).over(
            Window.orderBy(F.col("recency_days").desc(), "user_id")
        )
        f = F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        m = F.ntile(5).over(Window.orderBy("monetary", "user_id"))
        scored = base.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            r.alias("r"),
            f.alias("f"),
            m.alias("m"),
        )
    return scored.withColumn(
        "rfm_code", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("int")
    ).orderBy("user_id")


@register(
    "conversion_latency_quantiles",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_signup,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
        FROM events
        GROUP BY user_id
    ),
    lat AS (
        SELECT user_id,
               date_diff('second', first_signup, first_purchase) / 3600.0
                   AS hours
        FROM firsts
        WHERE first_signup IS NOT NULL
          AND first_purchase IS NOT NULL
          AND first_purchase >= first_signup
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(hours, 0.5), 4) AS p50_hours,
           ROUND(quantile_cont(hours, 0.9), 4) AS p90_hours,
           ROUND(MAX(hours), 4) AS max_hours
    FROM lat
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency distribution: per-user first
    occurrences of each event via conditional MIN (one aggregate, no
    self-join), latency in hours for users whose first purchase follows
    their first signup, then interpolated p50/p90 -- the time-to-convert
    number product analytics quotes next to the funnel rate.

    Both engines interpolate quantiles linearly (percentile /
    quantile_cont), over the bounded per-USER latency table."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("first_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = firsts.filter(
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        (
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_signup")
            )
            / 3600.0
        ).alias("hours")
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(hours, 0.5)"), 4).alias("p50_hours"),
        F.round(F.expr("percentile(hours, 0.9)"), 4).alias("p90_hours"),
        F.round(F.max("hours"), 4).alias("max_hours"),
    )


@register(
    "value_concentration_curve",
    oracle="""
    WITH per_user AS (
        SELECT user_id, SUM(value) AS total
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT total,
               NTILE(10) OVER (ORDER BY total DESC, user_id) AS decile
        FROM per_user
    ),
    tot AS (SELECT SUM(total) AS grand FROM per_user)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(total), 4) AS decile_value,
           ROUND(SUM(total) / grand, 6) AS value_share,
           ROUND(SUM(SUM(total)) OVER (
               ORDER BY decile ROWS UNBOUNDED PRECEDING) / grand, 6)
               AS cum_share
    FROM binned, tot
    GROUP BY decile, grand
    ORDER BY decile
    """,
)
def value_concentration_curve(
    spark: SparkSession,
    sf_dir: str,
    scalable_rows: int = SCALABLE_RANK_ROWS,
) -> DataFrame:
    """Pareto concentration curve: users ranked by lifetime value into
    top-down deciles, with each decile's share and the cumulative share
    -- the "does 20% of the base carry 80% of the value" report.

    Scale: events collapse to one row per user BEFORE any ranking; above
    ``scalable_rows`` the decile comes from the range-partitioned exact
    global rank + closed-form NTILE (``ops/scalable_rank.py``) so the
    user-grain sliver is never sorted in one partition; below it the
    plain window.  Both paths are value-identical, and the final curve
    is 10 rows either way."""
    ev = load_table(spark, sf_dir, "events")
    per_user = staged(
        spark,
        "per_user_value",
        sf_dir,
        lambda: ev.groupBy("user_id").agg(F.sum("value").alias("total")),
    )
    stats = staged_model(
        spark,
        "per_user_value_bounds",
        sf_dir,
        lambda: rank_bounds(per_user, ["total"]),
    )
    n = stats["n"]
    if n > scalable_rows:
        binned = global_row_number_scalable(
            per_user,
            "total",
            [F.asc("user_id")],
            stats["bounds"]["total"],
            descending=True,
            out_col="_rn",
        ).select("total", ntile_from_rn(F.col("_rn"), n, 10).alias("decile"))
    else:
        binned = per_user.select(
            "total",
            F.ntile(10)
            .over(Window.orderBy(F.col("total").desc(), "user_id"))
            .alias("decile"),
        )
    tot = per_user.agg(F.sum("total").alias("grand"))
    per_decile = (
        binned.groupBy("decile")
        .agg(F.count("*").alias("n_users"), F.sum("total").alias("dv"))
        .crossJoin(F.broadcast(tot))
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_decile.select(
        "decile",
        "n_users",
        F.round("dv", 4).alias("decile_value"),
        F.round(F.col("dv") / F.col("grand"), 6).alias("value_share"),
        F.round(F.sum("dv").over(w_cum) / F.col("grand"), 6).alias("cum_share"),
    ).orderBy("decile")


@register(
    "gini_user_value",
    oracle="""
    WITH per_user AS (
        SELECT user_id, SUM(value) AS total
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT total,
               ROW_NUMBER() OVER (ORDER BY total, user_id) AS rnk,
               COUNT(*) OVER () AS n,
               SUM(total) OVER () AS s
        FROM per_user
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           ROUND(MAX(s), 4) AS total_value,
           ROUND(2.0 * SUM(rnk * total) / (MAX(n) * MAX(s))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def gini_user_value(
    spark: SparkSession,
    sf_dir: str,
    scalable_rows: int = SCALABLE_RANK_ROWS,
) -> DataFrame:
    """Gini coefficient of per-user value: the single-number inequality
    summary behind the concentration curve, via the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-ranked users
    (ties broken by user_id so both engines rank identically).

    Scale: the rank runs over the per-user sliver; above
    ``scalable_rows`` it is the range-partitioned exact global
    row_number (``ops/scalable_rank.py`` -- no single-partition sort),
    below it the plain window; everything after is one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    per_user = staged(
        spark,
        "per_user_value",
        sf_dir,
        lambda: ev.groupBy("user_id").agg(F.sum("value").alias("total")),
    )
    stats = staged_model(
        spark,
        "per_user_value_bounds",
        sf_dir,
        lambda: rank_bounds(per_user, ["total"]),
    )
    if stats["n"] > scalable_rows:
        ranked = global_row_number_scalable(
            per_user, "total", [F.asc("user_id")], stats["bounds"]["total"],
            out_col="rnk",
        ).select("total", "rnk")
    else:
        w = Window.orderBy("total", "user_id")
        ranked = per_user.select(
            "total",
            F.row_number().over(w).alias("rnk"),
        )
    totals = per_user.agg(
        F.count("*").alias("n"), F.sum("total").alias("s")
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n").cast("bigint").alias("n_users"),
            F.round(F.max("s"), 4).alias("total_value"),
            F.round(
                2.0 * F.sum(F.col("rnk") * F.col("total"))
                / (F.max("n") * F.max("s"))
                - (F.max("n") + 1.0) / F.max("n"),
                6,
            ).alias("gini"),
        )
    )


@register(
    "session_bounce_rate",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, event_id, CAST(ts AS DATE) AS d,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, d, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM gaps
    ),
    per_session AS (
        SELECT user_id, sess_no,
               MIN(d) AS start_day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sess_no
    )
    SELECT start_day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
               AS n_bounces,
           ROUND(COUNT(CASE WHEN n_events = 1 THEN 1 END) * 1.0
                 / COUNT(*), 5) AS bounce_rate
    FROM per_session
    GROUP BY start_day
    ORDER BY start_day
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (60-minute gap rule,
    same sessionization the session_windows operator pins) containing
    exactly one event, by session start day -- the engagement metric
    product teams watch first.

    Scale: one user-partitioned window (the sessionizer's shuffle), a
    per-session aggregate, then a calendar-grain rollup."""
    from wsu_cpts_415_spark.queries.events import session_new_flag

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.to_date("ts").alias("d"),
        session_new_flag(w).alias("is_new"),
    )
    # event_id tie-break: the running sum must frame rows in the SAME
    # order the is_new window used, or tied timestamps straddle sessions
    # nondeterministically
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = gaps.withColumn("sess_no", F.sum("is_new").over(w_run))
    per_session = sess.groupBy("user_id", "sess_no").agg(
        F.min("d").alias("start_day"), F.count("*").alias("n_events")
    )
    bounce = F.when(F.col("n_events") == 1, 1)
    return (
        per_session.groupBy("start_day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.count(bounce).alias("n_bounces"),
            F.round(F.count(bounce) / F.count("*"), 5).alias("bounce_rate"),
        )
        .orderBy("start_day")
    )


@register(
    "activity_frequency_curve",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS active_days
        FROM events GROUP BY user_id
    )
    SELECT active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM per_user), 5)
               AS user_share
    FROM per_user
    GROUP BY active_days
    ORDER BY active_days
    """,
)
def activity_frequency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement-frequency ("smile") curve: how many users were
    active on exactly N distinct days of the window -- a U-shape means
    a tourist/core split, the first read on any engagement dashboard.

    Scale: one user-keyed distinct-day aggregate, then a rollup on the
    calendar-bounded active_days key space."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).alias("active_days")
    )
    tot = per_user.agg(F.count("*").alias("nu"))
    return (
        per_user.groupBy("active_days")
        .agg(F.count("*").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "active_days",
            "n_users",
            F.round(F.col("n_users") / F.col("nu"), 5).alias("user_share"),
        )
        .orderBy("active_days")
    )
