"""Time / event queries over the ``events`` clickstream fixture
(SURVEY.md §2.11 + §7.2 P6).

The reference is batch-only; these are the stream-shaped operators the
engine adds: tumbling/sliding/session windows, JSON prop extraction,
funnels, sessionization.  Each is written batch-first here; the streaming
module re-runs the same shapes under Structured Streaming with watermarks
(wsu_cpts_415_spark/streaming/).

``window_tumbling``, ``funnel_signup_purchase``, ``sessionize_lag``,
``event_type_daily_rate``, ``range_join_events``, ``zscore_anomalies``,
``event_transition_matrix``, ``funnel_three_step`` and
``attribution_linear_multitouch`` are written once, as their oracle SQL:
Spark runs that text verbatim over the fixture views
(``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

SESSION_GAP_MIN = 60  # sessionization gap, minutes


def session_new_flag(w) -> "F.Column":
    """1 when the row starts a session under the suite's pinned gap rule
    (first event per user, or gap > SESSION_GAP_MIN), else 0 -- the
    DataFrame form of the rule (session_bounce_rate); the SQL-bodied
    sessionizers (sessionize_lag, journey_trigrams) spell it in SQL.
    ``w`` must order by (ts, event_id) within the user partition."""
    return (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > SESSION_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
    )


register_sql(
    "window_tumbling",
    """Tumbling 1-day window aggregate: events grouped by their day
    (``streaming/jobs.tumbling_counts`` runs the same window under
    readStream + watermark).""",
    """
    SELECT date_trunc('day', ts) AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)


@register(
    "window_sliding",
    oracle="""
    SELECT ws AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM (
        SELECT value,
               UNNEST([date_trunc('day', ts),
                       date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws
        FROM events
    )
    GROUP BY ws
    ORDER BY win_start
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2-day length, 1-day hop): every event lands in two
    windows.  F.window expands rows map-side (like the oracle's UNNEST)
    then aggregates -- shuffle carries window-count x groups, not raw rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
        .orderBy("win_start")
    )


@register(
    "session_windows",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        FROM gaps
    )
    SELECT user_id,
           date_trunc('microseconds', MIN(ts)) AS session_start,
           date_trunc('microseconds', MAX(ts)) AS session_end_event,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sessions
    GROUP BY user_id, sess_no
    ORDER BY user_id, session_start
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap-based) via F.session_window -- Spark's native
    merging-session aggregate, identical state machine to the
    lag/gap/cumsum SQL oracle.  session_end_event is max event ts (the
    native window.end adds the gap; we emit the engine-neutral value)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end_event"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id", "session_start", "session_end_event", "n_events", "session_value"
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           ROUND(AVG(k), 6) AS avg_k
    FROM (
        SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: from_json over the props column (the
    fixture's JSON-string column, FIXTURES.md) -> typed aggregate.
    Schema is declared, not inferred, so the parse is a single
    codegen'd expression."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.from_json("props", "k INT").getField("k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


register_sql(
    "funnel_signup_purchase",
    """Event funnel: users who signed up, and of those, who purchased
    AFTER first signup.  One shuffle on user_id; conditional aggregates
    instead of self-joins.""",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'signup') AS first_signup,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT CAST(COUNT(first_signup) AS BIGINT) AS n_signed_up,
           CAST(COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS BIGINT)
               AS n_converted
    FROM firsts
    """,
)


register_sql(
    "sessionize_lag",
    """Sessionization via lag+gap flags (the windowed alternative to
    session_window; SURVEY guide 'common OLAP patterns').  Counting
    sessions = summing new-session flags, no second cumsum window.""",
    f"""
    WITH gaps AS (
        SELECT user_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    )
    SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
)


register_sql(
    "event_type_daily_rate",
    """Daily event-type share: aggregate THEN window over the (small)
    aggregate -- the window input is |days|x|types| rows, never the raw
    stream.""",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT d AS day, event_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY d), 6) AS share
    FROM daily
    ORDER BY day, event_type
    """,
)


register_sql(
    "range_join_events",
    """Batch range join (the batch twin of the streaming interval join,
    streaming/jobs.py): for every purchase, how many clicks the same
    user made in the preceding 30 minutes -- the classic
    attribution-window lookup.

    Scale: the equi-key (user_id) carries the shuffle, so this is a hash
    or sort-merge join per user with the time-range predicate evaluated
    inside the matched bucket -- never a cross product (the plan gate
    asserts no BroadcastNestedLoopJoin).  At 100 TB the same query runs
    against a time-bucketed layout: pre-bucketing both sides by
    (user_id) makes the join zero-Exchange, and partition pruning on a
    date column bounds each side's scan to the attribution horizon.""",
    """
    SELECT p.event_id,
           CAST(COUNT(c.event_id) AS BIGINT) AS n_prior_clicks
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
)


register_sql(
    "zscore_anomalies",
    """Top-5 z-score outliers per event type: per-type mean/stddev in one
    aggregate, every event scored against its type's distribution, rank
    by |z| (rounded before ranking; event_id tie-break).  Rank-based
    output instead of a |z|>k cut keeps the result deterministic across
    engines -- a threshold filter on a float boundary is not.

    Scale: one aggregate pass for the stats (broadcast back -- one row
    per type), one scan to score, one partitioned window with rank
    pushdown.  No global sort until the 5xtypes-row result.""",
    """
    WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    ),
    scored AS (
        SELECT e.event_id, e.event_type, e.value,
               ROUND((e.value - s.mu) / s.sigma, 4) AS zscore,
               ROUND(ABS(e.value - s.mu) / s.sigma, 6) AS abs_z
        FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_id, event_type, value, zscore, rnk
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY abs_z DESC, event_id
               ) AS INT) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
    ORDER BY event_type, rnk
    """,
)


register_sql(
    "event_transition_matrix",
    """First-order Markov transition counts between consecutive events of
    the same user (total order: ts then event_id): which action follows
    which -- the input to journey mining and next-event prediction.

    Scale: one window sort per user partition (the same shuffle the
    sessionizer pays), then a map-side-combinable count on a
    types^2-bounded key space.""",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY from_type, to_type
    """,
)


register_sql(
    "funnel_three_step",
    """Strictly-ordered three-step funnel (view -> click -> purchase):
    each step must happen AFTER the user's first completion of the
    previous step, so a purchase before the first post-view click does
    not count -- the semantics product analytics tools call "in order"
    conversion.

    Scale: three aggregate passes, all keyed on user_id -- the same
    shuffle key every pass, so on a cluster the second and third joins
    are co-partitioned with the first's output (AQE reuses the layout);
    nothing ever shuffles on a non-user key and the final result is a
    single global row.""",
    """
    WITH s1 AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'view') AS first_view
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, s1.first_view,
               MIN(e.ts) FILTER (
                   WHERE e.event_type = 'click' AND e.ts > s1.first_view
               ) AS first_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        GROUP BY e.user_id, s1.first_view
    ),
    s3 AS (
        SELECT e.user_id, s2.first_view, s2.first_click,
               MIN(e.ts) FILTER (
                   WHERE e.event_type = 'purchase' AND e.ts > s2.first_click
               ) AS first_purchase
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        GROUP BY e.user_id, s2.first_view, s2.first_click
    )
    SELECT CAST(COUNT(first_view) AS BIGINT) AS n_view,
           CAST(COUNT(first_click) AS BIGINT) AS n_view_click,
           CAST(COUNT(first_purchase) AS BIGINT) AS n_view_click_purchase,
           ROUND(COUNT(first_click) * 1.0 / NULLIF(COUNT(first_view), 0), 6)
               AS view_to_click,
           ROUND(COUNT(first_purchase) * 1.0 / NULLIF(COUNT(first_click), 0), 6)
               AS click_to_purchase
    FROM s3
    """,
)


EWMA_ALPHA = 0.3


@register(
    "ewma_daily",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               ROUND(SUM(value), 4) AS x
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, t.d AS day, t.x,
           ROUND(SUM(POW(1 - {EWMA_ALPHA}, date_diff('day', s.d, t.d)) * s.x)
                 / SUM(POW(1 - {EWMA_ALPHA}, date_diff('day', s.d, t.d))),
                 6) AS ewma
    FROM daily t
    JOIN daily s ON s.event_type = t.event_type AND s.d <= t.d
    GROUP BY t.event_type, t.d, t.x
    ORDER BY t.event_type, day
    """,
)
def ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exponentially-weighted moving average of daily value
    totals per event type (alpha={EWMA_ALPHA}): the smoothing baseline
    anomaly detectors compare against, weights (1-a)^age renormalized
    over the observed history so early days aren't biased toward zero.

    Scale: the raw stream collapses to |types| x |days| rows FIRST (one
    map-side-combinable aggregate); the weighted self-join runs on that
    bounded daily table, keyed by event_type -- at 100 TB the join input
    is thousands of rows regardless of event volume, and the history
    depth can be capped by adding a date_diff bound to the join (weights
    below 1e-6 contribute nothing)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    t, s = daily.alias("t"), daily.alias("s")
    age = F.datediff(F.col("t.d"), F.col("s.d"))
    w = F.pow(F.lit(1 - EWMA_ALPHA), age)
    return (
        t.join(
            s,
            (F.col("s.event_type") == F.col("t.event_type"))
            & (F.col("s.d") <= F.col("t.d")),
        )
        .groupBy(F.col("t.event_type").alias("event_type"), F.col("t.d").alias("day"), F.col("t.x").alias("x"))
        .agg(F.round(F.sum(w * F.col("s.x")) / F.sum(w), 6).alias("ewma"))
        .orderBy("event_type", "day")
    )


@register(
    "events_heatmap_hour_dow",
    oracle="""
    SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activity heatmap behind every ops dashboard: event volume on
    the (day-of-week x hour-of-day) grid.  dow comes from epoch-day
    arithmetic (engine-convention-proof, same rule as dow_seasonality);
    hour from the shared timestamp.

    Scale: single scan, one partial-aggregated shuffle onto a 7x24 key
    space -- the canonical bounded-cardinality rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7)
            .cast("bigint")
            .alias("dow"),
            F.hour("ts").cast("bigint").alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


@register(
    "acf_daily_by_type",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, n,
               LAG(n, 1) OVER w AS lag1, LAG(n, 2) OVER w AS lag2,
               LAG(n, 3) OVER w AS lag3, LAG(n, 4) OVER w AS lag4,
               LAG(n, 5) OVER w AS lag5, LAG(n, 6) OVER w AS lag6,
               LAG(n, 7) OVER w AS lag7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    stacked AS (
        SELECT event_type, n, l.lag, l.prev
        FROM lagged,
             LATERAL (VALUES (1, lag1), (2, lag2), (3, lag3), (4, lag4),
                             (5, lag5), (6, lag6), (7, lag7)) AS l(lag, prev)
    )
    SELECT event_type, CAST(lag AS INT) AS lag,
           ROUND(CORR(n, prev), 6) AS acf
    FROM stacked
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def acf_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's daily-count series
    at lags 1..7 (row-based lag + Pearson corr over the aligned pairs)
    -- the seasonality fingerprint a pipeline reads before picking a
    rolling-window width or an anomaly baseline (lag-7 spikes = weekly
    cycle; cf. dow_seasonality, which tests the same signal by grouping
    instead of correlating).

    Scale: the raw scan reduces to (event_type x day) grain immediately
    -- one partial-agg shuffle of calendar-bounded size; the lag windows
    partition by event_type (enum grain, each series calendar-bounded),
    and the ACF itself is a 35-row aggregate.  No events-grain window,
    no collect."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        *[F.lag("n", k).over(w).alias(f"lag{k}") for k in range(1, 8)],
    )
    stack_args = ", ".join(f"{k}, lag{k}" for k in range(1, 8))
    stacked = lagged.select(
        "event_type",
        "n",
        F.expr(f"stack(7, {stack_args}) as (lag, prev)"),
    )
    return (
        stacked.groupBy("event_type", F.col("lag").cast("int").alias("lag"))
        .agg(F.round(F.corr("n", "prev"), 6).alias("acf"))
        .orderBy("event_type", "lag")
    )


@register(
    "cumulative_distinct_users",
    oracle="""
    WITH first_day AS (
        SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        FROM events GROUP BY 1
    ),
    new_per_day AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_day GROUP BY 1
    ),
    days AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
    )
    SELECT d.day,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_users
    FROM days d LEFT JOIN new_per_day n USING (day)
    ORDER BY d.day
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day -- the audience-growth curve.
    COUNT(DISTINCT) is not algebraic across days, so the scalable form
    charges each user to their FIRST day (a min-aggregate at user
    grain), counts first-appearances per day, and prefix-sums that
    day-grain series: identical to the naive per-day distinct-over-
    -prefix, at one user-grain shuffle instead of one scan per day.
    Same first-seen trick as vocab_growth_curve; the running-sum window
    is unpartitioned but calendar-bounded (see tests/test_window_audit
    allowlist)."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    new_per_day = first_day.groupBy("day").agg(
        F.count("*").alias("new_users")
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    # prefix sum WITHOUT a global window: broadcast triangular join on
    # the calendar-bounded day grain (same trick as the KS/MWU bucket
    # offsets) -- O(days^2) pairs on a tiny sliver, zero WindowExec
    contrib = new_per_day.select(
        F.col("day").alias("src_day"), "new_users"
    )
    return (
        days.join(
            F.broadcast(contrib), F.col("src_day") <= F.col("day"), "left"
        )
        .groupBy("day")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("src_day") == F.col("day"), F.col("new_users"))),
                F.lit(0),
            ).alias("new_users"),
            F.coalesce(F.sum("new_users"), F.lit(0)).alias("cum_users"),
        )
        .orderBy("day")
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH touched AS (
        SELECT event_type, value,
               COALESCE(LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                        THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                        '(none)') AS touch
        FROM events
    )
    SELECT touch,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(SUM(value), 4) AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY touch
    ORDER BY touch
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent PRECEDING non-purchase event type ('(none)' when the
    purchase is the user's first event) -- conversions and value rolled
    up per touch channel.  The touch is a running last_value(ignore
    nulls) over the per-user event sequence: one user-partitioned
    window, no self-join against candidate touches, no per-purchase
    scan-back.  Deterministic tie-break (ts, event_id) keeps
    simultaneous events stable in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.coalesce(
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
        F.lit("(none)"),
    )
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy("touch")
        .agg(
            F.count("*").alias("n_conversions"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
        .orderBy("touch")
    )


ATTR_WINDOW_DAYS = 7  # lookback for multi-touch credit


register_sql(
    "attribution_linear_multitouch",
    f"""Linear multi-touch attribution: each purchase's value splits
    EQUALLY across every non-purchase event by the same user in the
    preceding {ATTR_WINDOW_DAYS} days (the complement of last-touch's
    winner-take-all).  The credit join is an equi-join on user_id plus
    a bounded time-range predicate -- per-user touch x purchase pairs
    within a fixed window, the same bounded-blowup shape as
    range_join_events; the per-purchase touch count comes from one
    window over the credited pairs (purchase-grain partitions).

    Scale: never touches x purchases globally -- the user_id equi-key
    routes the join, and the {ATTR_WINDOW_DAYS}-day bound caps pairs
    per user at (touch rate x window) per purchase.  At 100 TB add a
    coarse time-bucket to the join key (events bucketed by week) so
    state per key stays flat under AQE.""",
    f"""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t_ts, event_type
        FROM events WHERE event_type <> 'purchase'
    ),
    credited AS (
        SELECT p.p_id, p.value, t.event_type,
               COUNT(*) OVER (PARTITION BY p.p_id) AS n_touches
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.t_ts < p.p_ts
         AND t.t_ts >= p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    )
    SELECT event_type AS touch,
           CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases_touched,
           ROUND(SUM(value / n_touches), 4) AS attributed_value
    FROM credited
    GROUP BY 1
    ORDER BY 1
    """,
)


@register(
    "locf_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               ROUND(SUM(value), 4) AS day_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ),
    calendar AS (
        SELECT event_type, CAST(d.g AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM events) t,
             bounds,
             LATERAL (SELECT UNNEST(generate_series(bounds.lo, bounds.hi,
                                                    INTERVAL 1 DAY)) AS g) d
    )
    SELECT c.event_type, c.day,
           ROUND(LAST_VALUE(dl.day_value IGNORE NULLS)
                     OVER (PARTITION BY c.event_type ORDER BY c.day
                           ROWS UNBOUNDED PRECEDING), 4) AS filled_value,
           dl.day_value IS NULL AS was_gap
    FROM calendar c LEFT JOIN daily dl
      ON c.event_type = dl.event_type AND c.day = dl.day
    ORDER BY c.event_type, c.day
    """,
)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over a dense calendar: each
    event type's daily value series is re-gridded onto every day between
    the corpus bounds and gaps take the most recent observed value (the
    step-function fill; linear_interpolation_fill is the straight-line
    sibling).  Spine = sequence(min, max) exploded against the enum
    event-type dim -- calendar x enum grain, tiny by construction; the
    fill is one running last_value(ignore nulls) window per type.  The
    raw scan collapses to (type, day) grain before anything else, so
    the expensive part rides one partial-agg shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    types = ev.select("event_type").distinct()
    calendar = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi")).alias("day"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        calendar.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.round(
                F.last("day_value", ignorenulls=True).over(w), 4
            ).alias("filled_value"),
            F.col("day_value").isNull().alias("was_gap"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "theilsen_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               ROUND(SUM(value), 4) AS v
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               (b.v - a.v) / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(slope, 0.5), 6) AS theilsen_slope
    FROM slopes
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of each event type's daily value series:
    the median of all pairwise slopes -- outlier days move OLS
    arbitrarily but shift a median only one rank (cf.
    linreg_normal_equations, the L2 sibling).  The pairwise self-join is
    QUADRATIC BY DEFINITION, which is exactly why it runs on the
    (type, day) rollup, never the events: the raw scan collapses to
    calendar-bounded grain first, so the pair count is bounded by
    days^2 per type regardless of data volume -- the same
    bounded-grain-then-quadratic discipline as the KS/MWU rank tests.
    Median via exact interpolating percentile (one agg, no global
    sort)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("v").alias("v_a")
    )
    b = daily.select(
        F.col("event_type").alias("event_type_b"),
        F.col("day").alias("day_b"),
        F.col("v").alias("v_b"),
    )
    slopes = a.join(
        b,
        (F.col("event_type") == F.col("event_type_b"))
        & (F.col("day_a") < F.col("day_b")),
    ).select(
        "event_type",
        (
            (F.col("v_b") - F.col("v_a"))
            / F.datediff("day_b", "day_a").cast("double")
        ).alias("slope"),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
                "theilsen_slope"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY CAST(ts AS TIMESTAMP),
                                               event_id) AS next_type,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_mkv'),
                                1, 8))::BIGINT) % 5 < 4 AS is_train
        FROM events
    ),
    pairs AS (
        SELECT event_type AS prev, next_type AS nxt, is_train
        FROM seq WHERE next_type IS NOT NULL
    ),
    matrix AS (
        SELECT prev, nxt, COUNT(*) AS c
        FROM pairs WHERE is_train GROUP BY 1, 2
    ),
    best AS (
        SELECT prev, MAX(c) AS mc FROM matrix GROUP BY prev
    ),
    pred AS (
        SELECT m.prev, MIN(m.nxt) AS predicted
        FROM matrix m JOIN best b ON m.prev = b.prev AND m.c = b.mc
        GROUP BY m.prev
    )
    SELECT p.prev AS prev_type,
           MAX(pr.predicted) AS predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CASE WHEN p.nxt = pr.predicted THEN 1.0 ELSE 0.0 END),
                 6) AS accuracy
    FROM pairs p JOIN pred pr ON p.prev = pr.prev
    WHERE NOT p.is_train
    GROUP BY p.prev
    ORDER BY p.prev
    """,
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event predictor with a REAL train/eval
    split: transition counts learned on the hash-selected 80% of users,
    argmax prediction per previous type (deterministic tie-break via the
    min(struct(-count, next)) trick the graph kernels use), top-1
    accuracy measured on the held-out 20% -- the full
    learn-on-A/score-on-B loop as one declarative plan, no driver-side
    model object (cf. markov_stationary_dist, which studies the same
    matrix analytically).

    Scale: sequence pairs from one user-partitioned lag window; the
    model is an enum x enum count table (broadcast-sized by
    construction); the eval join broadcasts the model into the
    test-pair scan.  Hash-split by USER, not row, so no user leaks
    across the split (the split_leakage_audit discipline)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
        (
            F.expr(
                "cast(conv(substr(md5(concat(cast(user_id as string),"
                " '_mkv')), 1, 8), 16, 10) as bigint)"
            )
            % 5
            < 4
        ).alias("is_train"),
    ).filter(F.col("nxt").isNotNull())
    matrix = (
        seq.filter("is_train").groupBy("prev", "nxt").agg(F.count("*").alias("c"))
    )
    pred = matrix.groupBy("prev").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("nxt"))).alias("m")
    ).select("prev", F.col("m.nxt").alias("predicted"))
    test = seq.filter(~F.col("is_train"))
    return (
        test.join(F.broadcast(pred), "prev")
        .groupBy(F.col("prev").alias("prev_type"))
        .agg(
            F.max("predicted").alias("predicted_next"),
            F.count("*").alias("n_test"),
            F.round(
                F.avg(
                    F.when(F.col("nxt") == F.col("predicted"), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("accuracy"),
        )
        .orderBy("prev_type")
    )


@register(
    "golden_record_per_user",
    oracle="""
    SELECT user_id,
           struct_extract(
               MAX(CASE WHEN props IS NOT NULL THEN struct_pack(
                   ts := CAST(ts AS TIMESTAMP), eid := event_id, v := props)
               END), 'v') AS last_props,
           struct_extract(
               MAX(struct_pack(ts := CAST(ts AS TIMESTAMP), eid := event_id,
                               v := event_type)), 'v') AS last_event_type,
           MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def golden_record_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (MDM survivorship at FIELD grain):
    each user's merged profile takes, PER FIELD, the most recent
    non-null observation -- props from the last event that carried one,
    last_event_type from the last event outright -- rather than
    dedup_survivorship_quality's whole-row winner.  Recency resolved by
    (ts, event_id) so simultaneous events merge deterministically.

    Scale: one hash aggregate; each field's argmax rides the partial
    aggregation as max(struct(order_key, field)) with nulls excluded by
    a conditional (max over an all-null group is null, which IS the
    right golden value for a never-observed field).  No window, no
    self-join, no per-user sort."""
    ev = load_table(spark, sf_dir, "events")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.col("props").isNotNull(),
                    F.struct(
                        F.col("ts"), F.col("event_id"), F.col("props")
                    ),
                )
            )["props"].alias("last_props"),
            F.max(
                F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
            )["event_type"].alias("last_event_type"),
            F.max("ts").alias("last_seen"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "peak_concurrent_sessions",
    oracle=f"""
    WITH sess AS (
        SELECT user_id,
               MIN(CAST(ts AS TIMESTAMP)) AS s_start,
               MAX(CAST(ts AS TIMESTAMP)) AS s_end
        FROM (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN CAST(ts AS TIMESTAMP)
                                 - LAG(CAST(ts AS TIMESTAMP)) OVER (
                                     PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                                 > INTERVAL {SESSION_GAP_MIN} MINUTE
                                 OR LAG(ts) OVER (
                                     PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                                    IS NULL
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            )
        )
        GROUP BY user_id, sid
    ),
    pts AS (
        SELECT s_start AS pt, 1 AS delta FROM sess
        UNION ALL
        SELECT s_end AS pt, -1 AS delta FROM sess
    ),
    run AS (
        SELECT pt, delta,
               SUM(delta) OVER (ORDER BY pt, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           MIN(CASE WHEN conc = (SELECT MAX(conc) FROM run) THEN pt END)
               AS first_peak_ts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions
    FROM run
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact peak concurrency over gap-based user sessions: sweep-line
    (+1 at session start, -1 at end, ends-before-starts at ties so
    touching sessions never double-count) with the running sum computed
    SCALABLY -- boundary points bucket by day, the prefix runs inside
    each day-partitioned window, and cross-day offsets come from the
    broadcast triangular join on the calendar grain (the same
    bucket-prefix-scan as ks_test / cumulative_distinct_users; zero
    unpartitioned windows).  Peak and its first timestamp are
    deterministic under boundary ties: a +1 tie-group's maximum is its
    final value whatever the intra-group order.

    The capacity-planning number (max simultaneous anything: sessions,
    connections, rentals) computed exactly at data scale -- no
    time-bucket approximation."""
    from wsu_cpts_415_spark.ops.staging import staged

    # r12: the session sliver is STAGED (one session_window shuffle,
    # persisted) -- the previous plan re-ran the events->sessions
    # aggregate up to 9x (unionAll branch x2, window branch, day-total
    # branch, peak self-reference x2, n_sessions; 44 Exchanges).  Sweep
    # points come from ONE explode instead of a unionAll (single eval
    # per consumer), and peak / first-peak-ts / n_sessions all come out
    # of ONE final aggregate (max over (conc, -t) replaces the
    # peak-broadcast self-join; +1 deltas count sessions), so the run
    # table is consumed once.
    ev = load_table(spark, sf_dir, "events")
    sess = staged(
        spark,
        f"gap_sessions_{SESSION_GAP_MIN}m",
        sf_dir,
        lambda: ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
        ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end")),
    )
    pts = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_start").alias("pt"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("s_end").alias("pt"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("e")
    ).select(F.col("e.pt").alias("pt"), F.col("e.delta").alias("delta"))
    pts = pts.withColumn("day", F.to_date("pt"))
    w_day = (
        Window.partitionBy("day")
        .orderBy("pt", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = pts.withColumn("local_run", F.sum("delta").over(w_day))
    day_tot = pts.groupBy("day").agg(F.sum("delta").alias("day_sum"))
    earlier = day_tot.select(
        F.col("day").alias("src_day"), F.col("day_sum").alias("src_sum")
    )
    offsets = (
        day_tot.join(
            F.broadcast(earlier), F.col("src_day") < F.col("day"), "left"
        )
        .groupBy("day")
        .agg(F.coalesce(F.sum("src_sum"), F.lit(0)).alias("offset"))
    )
    run = within.join(F.broadcast(offsets), "day").withColumn(
        "conc", F.col("local_run") + F.col("offset")
    )
    # one pass: lexicographic max of (conc, -micros) == "max conc, then
    # earliest pt" -- identical to the oracle's MIN(pt | conc = MAX)
    best = F.max(
        F.struct(
            F.col("conc").alias("c"),
            (-F.unix_micros("pt")).alias("neg_us"),
        )
    )
    return run.agg(
        best["c"].cast("bigint").alias("peak_concurrency"),
        F.timestamp_micros(-best["neg_us"]).alias("first_peak_ts"),
        F.coalesce(
            F.sum(F.when(F.col("delta") == 1, F.lit(1))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_sessions"),
    )
