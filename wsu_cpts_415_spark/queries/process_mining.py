"""Process-mining and sequential-analysis operators, round 4 batch 4:
Markov steady state, proportion testing, CUSUM change detection, and
basket association lift.

Engine extensions (the reference has no sequence surface; nearest is the
trending aggregate, trending_predictor.py).  All public textbook methods:

  * ``markov_stationary_dist`` -- the stationary distribution of the
    user-journey transition matrix (the long-run share of time spent in
    each event state) by fixed-depth power iteration, fully distributed
    AND fully SQL-expressible because each iteration is a join+aggregate
    over a |types|^2 matrix.
  * ``ab_proportion_ztest``   -- two-sample proportion z-test of
    purchase conversion between deterministic user-id-parity arms (the
    significance test CUPED's metric feeds).
  * ``cusum_changepoints``    -- standardized CUSUM path over the daily
    volume series with its maximum-drift day: the classic sequential
    change-point screen, one cumulative window over the calendar grain.
  * ``basket_lift_pairs``     -- unordered event-type co-occurrence per
    user with association lift (P(a,b)/P(a)P(b)) -- market-basket
    analysis over a types^2-bounded key space.

Scale design: the Markov iterations run over a |types|^2 = 25-row
matrix (each step one broadcast join + tiny agg; depth is a constant 8);
the z-test and lift collapse users/pairs to bounded grains before any
join; CUSUM's only window is over calendar days.  Raw events are
scanned exactly once per query.

``cusum_changepoints`` is written once, as its oracle SQL: Spark runs
that text verbatim over the fixture views (``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

POWER_ITERS = 8  # Markov power-iteration depth (5 states mix fast)


def _transitions_sql() -> str:
    """Shared SQL: per-user consecutive-event transition probabilities."""
    return """
    ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    counts AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    p AS (
        SELECT from_type, to_type,
               n * 1.0 / SUM(n) OVER (PARTITION BY from_type) AS prob
        FROM counts
    )"""


def _markov_oracle() -> str:
    """Unrolled power iteration: dist_{i+1}(to) = sum_from dist_i(from) *
    P(from, to).  Chained CTEs (one per iteration) instead of a recursive
    CTE because the recursive term would need GROUP BY."""
    steps = []
    prev = "d0"
    for i in range(1, POWER_ITERS + 1):
        cur = f"d{i}"
        steps.append(
            f"{cur} AS (SELECT p.to_type AS state, "
            f"SUM({prev}.w * p.prob) AS w "
            f"FROM {prev} JOIN p ON {prev}.state = p.from_type "
            f"GROUP BY p.to_type)"
        )
        prev = cur
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_transitions_sql()},
    states AS (SELECT DISTINCT from_type AS state FROM p),
    d0 AS (
        SELECT state, 1.0 / (SELECT COUNT(*) FROM states) AS w FROM states
    ),
    {chain}
    SELECT state, ROUND(w, 6) AS stationary_p
    FROM {prev}
    ORDER BY state
    """


@register("markov_stationary_dist", oracle=_markov_oracle())
def markov_stationary_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain: start
    uniform over the observed states and apply the row-normalized
    transition matrix {POWER_ITERS} times.  Five well-connected states
    mix in far fewer steps, so the fixed depth is a converged answer
    both engines can reproduce exactly.

    Scale: the event stream reduces to a |types|^2 transition matrix via
    one user-partitioned window (the sessionizer's shuffle) + a bounded
    groupBy; every power step is then a broadcast join between a
    |types|-row vector and the 25-row matrix -- constant work regardless
    of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    counts = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    p_plan = counts.withColumn(
        "prob",
        F.col("n") / F.sum("n").over(Window.partitionBy("from_type")),
    ).select("from_type", "to_type", "prob")
    # tiny matrix from here on: session-stage it so neither the 8
    # iterations nor repeated calls re-derive the event-stream window
    from wsu_cpts_415_spark.ops.staging import staged

    p = staged(spark, "markov_transitions", sf_dir, lambda: p_plan)
    # Model-sized DRIVER iteration (r12): the matrix is |event_type|^2
    # rows (25 at the fixture's 5-type enum; a per-chain constant, not
    # corpus-scaled), so the {POWER_ITERS} broadcast-join rounds were
    # pure stage-scheduling overhead -- 8 shuffles of a <=5-row vector.
    # Collect the matrix ONCE (the kmeans/PQ model-exchange pattern,
    # tests/test_collect_audit.py ALLOWED) and run the power steps in
    # Python over sorted keys (deterministic accumulation order);
    # measured ~0.5 s -> ~0.05 s for the iteration tail at sf0.1.  The
    # final rounding stays in Spark so the HALF_UP semantics of the
    # registered output are byte-identical to the previous plan.
    rows = p.collect()
    if not rows:
        # no transitions (empty/1-event-per-user corpus): empty result
        return spark.createDataFrame(
            [], "state string, stationary_p double"
        )
    trans: dict[str, list[tuple[str, float]]] = {}
    for r in rows:
        trans.setdefault(r["from_type"], []).append(
            (r["to_type"], float(r["prob"]))
        )
    states = sorted(trans)
    w = {s: 1.0 / len(states) for s in states}
    for _ in range(POWER_ITERS):
        nw: dict[str, float] = {}
        for s in sorted(w):
            for to, pr in trans.get(s, ()):
                nw[to] = nw.get(to, 0.0) + w[s] * pr
        w = nw
    dist = spark.createDataFrame(
        sorted(w.items()), "state string, w double"
    )
    return dist.select(
        "state", F.round("w", 6).alias("stationary_p")
    ).orderBy("state")


@register(
    "ab_proportion_ztest",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                         <= MIN(ts) + INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS conv
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN conv END) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           ROUND(c0 * 1.0 / n0, 5) AS p0,
           ROUND(c1 * 1.0 / n1, 5) AS p1,
           ROUND((c1 * 1.0 / n1 - c0 * 1.0 / n0)
                 / NULLIF(SQRT(((c0 + c1) * 1.0 / (n0 + n1))
                        * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 0), 4) AS z
    FROM wide
    """,
)
def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion z-test between the deterministic
    user-parity arms; conversion = first purchase within one day of the
    user's first activity (a bounded-window definition, so the rate is
    non-degenerate on any fixture where everyone eventually purchases).
    Pooled-variance z; NULLIF guards the degenerate all-or-none pool.
    |z| < 1.96 on the parity split is the A/A sanity any
    experimentation stack must pass.

    Scale: one user_id shuffle to per-user conversion flags, then a
    2-row arm rollup pivoted to one row.  Nothing else moves."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            <= F.min("ts") + F.expr("INTERVAL 1 DAY"),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p_pool = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(F.col("c0") / F.col("n0"), 5).alias("p0"),
        F.round(F.col("c1") / F.col("n1"), 5).alias("p1"),
        F.round(
            (F.col("c1") / F.col("n1") - F.col("c0") / F.col("n0"))
            / F.nullif(
                F.sqrt(
                    p_pool
                    * (1 - p_pool)
                    * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("z"),
    )


register_sql(
    "cusum_changepoints",
    """Standardized CUSUM path of daily event volume: the running sum of
    (n - mean)/stddev, whose maximum-|drift| day is the classic single
    change-point estimate.  Emits the full path (for plotting) with the
    peak day flagged.

    Scale: events collapse to |dates| rows; the cumulative window runs
    over the calendar grain only, and the global stats/peak are 1-row
    broadcasts.""",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY d
    ),
    stats AS (
        SELECT AVG(n) AS mu, stddev_pop(n) AS s FROM daily
    ),
    path AS (
        SELECT d, n,
               SUM((n - mu) / s) OVER (
                   ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW
               ) AS cusum
        FROM daily, stats
    ),
    peak AS (
        SELECT MAX(ABS(cusum)) AS peak_abs FROM path
    )
    SELECT d, n,
           ROUND(cusum, 4) AS cusum,
           CASE WHEN ABS(cusum) = peak_abs THEN 1 ELSE 0 END
               AS is_peak_drift
    FROM path, peak
    ORDER BY d
    """,
)


@register(
    "basket_lift_pairs",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events
    ),
    item_p AS (
        SELECT event_type, COUNT(*) * 1.0 / nu AS p
        FROM baskets, n_users GROUP BY event_type, nu
    ),
    pairs AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY item_a, item_b
    )
    SELECT item_a, item_b, n_both,
           ROUND(n_both * 1.0 / nu, 5) AS support,
           ROUND((n_both * 1.0 / nu) / (pa.p * pb.p), 4) AS lift
    FROM pairs, n_users,
         item_p pa, item_p pb
    WHERE pa.event_type = item_a AND pb.event_type = item_b
    ORDER BY item_a, item_b
    """,
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over event types: for every unordered
    type pair, the co-occurrence support across users and the lift
    P(a,b) / (P(a) P(b)) -- lift > 1 marks genuinely associated
    behaviors rather than popularity artifacts.

    Scale: baskets deduplicate to (user, type) -- at most |types| rows
    per user -- before the pair self-join, so the join input is a
    bounded sliver of the corpus; item priors and the user count are
    broadcast.  The pair key space is types^2."""
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").alias("nu"))
    item_p = (
        baskets.groupBy("event_type")
        .count()
        .crossJoin(F.broadcast(n_users))
        .select("event_type", (F.col("count") / F.col("nu")).alias("p"))
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    pa = item_p.select(
        F.col("event_type").alias("item_a"), F.col("p").alias("p_a")
    )
    pb = item_p.select(
        F.col("event_type").alias("item_b"), F.col("p").alias("p_b")
    )
    return (
        pairs.crossJoin(F.broadcast(n_users))
        .join(F.broadcast(pa), "item_a")
        .join(F.broadcast(pb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(F.col("n_both") / F.col("nu"), 5).alias("support"),
            F.round(
                (F.col("n_both") / F.col("nu")) / (F.col("p_a") * F.col("p_b")),
                4,
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


@register(
    "funnel_within_window",
    oracle="""
    WITH signup AS (
        SELECT user_id, MIN(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    stepped AS (
        SELECT s.user_id, s.t_signup,
               MIN(CASE WHEN e.event_type = 'view'
                        AND e.ts > s.t_signup
                        AND e.ts <= s.t_signup + INTERVAL 1 DAY
                        THEN e.ts END) AS t_view
        FROM signup s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.t_signup
    ),
    full_funnel AS (
        SELECT st.user_id, st.t_view,
               MIN(CASE WHEN e.event_type = 'purchase'
                        AND e.ts > st.t_view
                        AND e.ts <= st.t_view + INTERVAL 3 DAY
                        THEN e.ts END) AS t_purchase
        FROM stepped st JOIN events e ON e.user_id = st.user_id
        WHERE st.t_view IS NOT NULL
        GROUP BY st.user_id, st.t_view
    )
    SELECT CAST((SELECT COUNT(*) FROM signup) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(t_view) FROM stepped) AS BIGINT)
               AS n_view_1d,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase_3d,
           ROUND(COUNT(t_purchase) * 1.0
                 / (SELECT COUNT(*) FROM signup), 5) AS full_conversion
    FROM full_funnel
    """,
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded sequential funnel: signup -> first view within 1 day
    -> first purchase within 3 days of that view.  Unlike the unbounded
    funnels (funnel_signup_purchase, funnel_three_step), each step must
    land inside its own window measured from the PREVIOUS step's time --
    the standard product-funnel definition.

    Scale: two user-keyed join+aggregate passes (step N's timestamps
    join back onto the per-user event sliver); every shuffle is on
    user_id, and AQE coalesces the tiny step tables.  No window
    functions over raw events.

    r12 (guide §5.1, no driver actions in the query path): the funnel
    counters were two eager driver ``.count()`` jobs whose subtrees
    (signup, stepped) were then re-evaluated by the final aggregate --
    four scans of events per run.  The purchase step now LEFT-joins
    back onto the full signup-user sliver, so one aggregate row yields
    all four counters (count(*) over the sliver == the old eager
    n_signup; count(t_view)/count(t_purchase) skip nulls exactly as the
    old filtered counts did): one action, two event scans, identical
    output including the empty-corpus row."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    stepped = (
        signup.join(ev, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "view")
                    & (F.col("ts") > F.col("t_signup"))
                    & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 1 DAY")),
                    F.col("ts"),
                )
            ).alias("t_view")
        )
    )
    purchased = (
        stepped.filter(F.col("t_view").isNotNull())
        .join(ev, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 3 DAY")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    # one row per signup user (stepped and purchased are both keyed
    # 1:1 by user_id), so the single aggregate reads every counter
    funnel = stepped.join(
        purchased.select("user_id", "t_purchase"), "user_id", "left"
    )
    return funnel.agg(
        F.count("*").cast("bigint").alias("n_signup"),
        F.count("t_view").cast("bigint").alias("n_view_1d"),
        F.count("t_purchase").alias("n_purchase_3d"),
        F.round(
            F.count("t_purchase") / F.count("*").cast("double"), 5
        ).alias("full_conversion"),
    )
