"""Experiment-analytics and privacy-audit operators, round 4 batch 2:
survival curves, CUPED variance reduction, k-anonymity, seasonality.

Engine extensions (the reference has no experimentation surface; its
nearest analogue is the trending-score aggregate pipeline,
trending_predictor.py).  All are textbook public methods:

  * ``kaplan_meier_conversion`` -- Kaplan-Meier survival estimate of
    time-to-first-purchase after first signup, with right-censoring at
    the end of the observation window (the standard product-analytics
    "how long until users convert" curve).
  * ``cuped_adjusted_metric``   -- CUPED (Deng et al., WSDM 2013, public)
    variance-reduced experiment metric: post-period value adjusted by the
    pre-period covariate, arms assigned by a deterministic user-id split.
  * ``k_anonymity_audit``       -- k-anonymity of the customer table
    under the (segment, nation) quasi-identifier pair: group sizes,
    the table's k, and the population share in below-threshold groups.
  * ``dow_seasonality``         -- day-of-week seasonal indices of the
    event stream (per-dow mean daily volume over the global mean), with
    dow derived arithmetically from the epoch day so both engines share
    one weekday convention.

Scale design: every query aggregates to tiny keyed results before any
window or join.  Kaplan-Meier's cumulative product runs over |distinct
durations| rows (days, not users); CUPED's theta is a 1-row scalar
broadcast; the seasonality windowing is over |dates| rows.  Nothing
collects to the driver and no window runs over raw events.

``kaplan_meier_conversion``, ``cuped_adjusted_metric`` and
``anova_variance_decomposition`` are written once, as their oracle SQL:
Spark runs that text verbatim over the fixture views
(``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

K_THRESHOLD = 5  # k-anonymity reporting threshold
PRE_DAYS = 15  # CUPED pre-period length (fixture spans 30 days)


register_sql(
    "kaplan_meier_conversion",
    """Kaplan-Meier survival of days-from-signup-to-purchase per user,
    right-censored at the corpus observation end.  S(t) is the running
    product of (1 - d_t / n_t) over conversion days, computed as
    exp(cumsum(ln(.))) so both engines evaluate the same ordered sum.

    Scale: users collapse to one (duration, converted) row via a single
    user_id shuffle; everything after runs over |distinct durations|
    rows (~the day range), so the unpartitioned cumulative window is
    bounded by the calendar, not the corpus.""",
    """
    WITH bounds AS (
        SELECT MAX(CAST(ts AS DATE)) AS obs_end FROM events
    ),
    firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS DATE) END)
                   AS d_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
                   AS d_purchase
        FROM events GROUP BY user_id
    ),
    subjects AS (
        SELECT CASE WHEN d_purchase >= d_signup
                    THEN CAST(d_purchase - d_signup AS BIGINT)
                    ELSE CAST(obs_end - d_signup AS BIGINT) END AS duration,
               CASE WHEN d_purchase >= d_signup THEN 1 ELSE 0 END AS converted
        FROM firsts, bounds WHERE d_signup IS NOT NULL
    ),
    at_time AS (
        SELECT duration AS day,
               CAST(SUM(converted) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_leaving
        FROM subjects GROUP BY duration
    ),
    risk AS (
        SELECT day, n_events,
               (SELECT COUNT(*) FROM subjects) -
               COALESCE(SUM(n_leaving) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
        FROM at_time
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           ROUND(EXP(SUM(LN(1.0 - n_events * 1.0 / n_risk)) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )), 5) AS survival
    FROM risk
    WHERE n_events > 0
    ORDER BY day
    """,
)


register_sql(
    "cuped_adjusted_metric",
    """CUPED variance reduction: per-user post-period value adjusted by
    the pre-period covariate (theta = cov(X,Y)/var(X)); arms come from a
    deterministic user-id parity split so the comparison is replayable.
    var_ratio < 1 is the whole point of the method.

    Scale: one user_id shuffle builds (x_pre, y_post); theta is a 1-row
    scalar BROADCAST back over users; the output is |arms| rows.  No
    window over raw events anywhere.""",
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               SUM(CASE WHEN CAST(ts AS DATE) <
                        (SELECT MIN(CAST(ts AS DATE)) FROM events)
                            + INTERVAL {PRE_DAYS} DAY
                        THEN value ELSE 0 END) AS x_pre,
               SUM(CASE WHEN CAST(ts AS DATE) >=
                        (SELECT MIN(CAST(ts AS DATE)) FROM events)
                            + INTERVAL {PRE_DAYS} DAY
                        THEN value ELSE 0 END) AS y_post
        FROM events GROUP BY user_id
    ),
    theta AS (
        SELECT covar_pop(x_pre, y_post) / var_pop(x_pre) AS th,
               AVG(x_pre) AS x_mean
        FROM per_user
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y_post), 4) AS mean_y,
           ROUND(AVG(y_post - th * (x_pre - x_mean)), 4) AS mean_y_cuped,
           ROUND(var_pop(y_post - th * (x_pre - x_mean))
                 / var_pop(y_post), 4) AS var_ratio
    FROM per_user, theta
    GROUP BY arm
    ORDER BY arm
    """,
)


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH groups AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS grp_n
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(MIN(grp_n) AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE grp_n < {K_THRESHOLD}) AS BIGINT)
               AS groups_below_k{K_THRESHOLD},
           CAST(SUM(grp_n) FILTER (WHERE grp_n < {K_THRESHOLD}) AS BIGINT)
               AS people_at_risk,
           ROUND(COALESCE(SUM(grp_n) FILTER (WHERE grp_n < {K_THRESHOLD}), 0)
                 * 1.0 / SUM(grp_n), 4) AS at_risk_share
    FROM groups
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity under the (market segment, nation) quasi-identifier:
    the table's k (smallest group), how many groups fall below the
    k={K_THRESHOLD} disclosure threshold, and the share of people in
    them — the privacy-side complement to the GDPR erasure audit.

    Scale: one partial-aggregated shuffle on the QI pair, then a rollup
    of |groups| rows.  At 100 TB the QI cardinality, not the row count,
    bounds the reduce side."""
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("grp_n")
    )
    below = F.col("grp_n") < K_THRESHOLD
    return groups.agg(
        F.min("grp_n").alias("k"),
        F.count("*").alias("n_groups"),
        F.count(F.when(below, 1)).alias(f"groups_below_k{K_THRESHOLD}"),
        F.sum(F.when(below, F.col("grp_n"))).alias("people_at_risk"),
        F.round(
            F.coalesce(F.sum(F.when(below, F.col("grp_n"))), F.lit(0))
            / F.sum("grp_n"),
            4,
        ).alias("at_risk_share"),
    )


@register(
    "dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY d
    ),
    dowed AS (
        SELECT CAST((d - DATE '1970-01-01') % 7 AS BIGINT) AS dow, n
        FROM daily
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(n), 4) AS avg_daily_events,
           ROUND(AVG(n) / (SELECT AVG(n) FROM dowed), 4) AS seasonal_index
    FROM dowed
    GROUP BY dow
    ORDER BY dow
    """,
)
def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of event volume: per-dow mean daily
    count over the global mean.  dow is the epoch-day modulo 7 (0 =
    Thursday) computed arithmetically in BOTH engines, sidestepping the
    dayofweek() convention mismatch (Spark is 1=Sunday, DuckDB 0=Sunday).

    Scale: events collapse to |dates| rows in the first aggregate; the
    global mean is a 1-row broadcast over |dow| = 7 rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(F.count("*").alias("n"))
    dowed = daily.select(
        (F.datediff("d", F.lit("1970-01-01")) % 7).cast("bigint").alias("dow"),
        "n",
    )
    overall = dowed.agg(F.avg("n").alias("g_avg"))
    return (
        dowed.crossJoin(F.broadcast(overall))
        .groupBy("dow")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.avg("n"), 4).alias("avg_daily_events"),
            F.round(F.avg("n") / F.max("g_avg"), 4).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


DP_EPS = 1.0  # Laplace scale b = sensitivity/eps = 1 for a count release
_DP_SEED = "dpseed1"  # fixed salt: the release is replayable bit-for-bit


@register(
    "dp_noisy_counts",
    oracle=f"""
    WITH cell AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    noised AS (
        SELECT event_type, n,
               (('0x' || substr(md5(event_type || '_{_DP_SEED}'), 1, 12))::BIGINT
                + 0.5) / 281474976710656.0 AS u
        FROM cell
    )
    SELECT event_type,
           ROUND(n - (1.0 / {DP_EPS})
                     * SIGN(u - 0.5) * LN(1 - 2 * ABS(u - 0.5)), 4)
               AS noisy_count,
           CAST({DP_EPS} AS DOUBLE) AS epsilon
    FROM noised
    ORDER BY event_type
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release: per-event-type counts
    with Laplace(1/eps) noise, eps={DP_EPS} (count queries have
    sensitivity 1).  The noise is SEEDED -- uniform u from md5(cell key,
    fixed salt) via the same cross-engine hash trick as
    hash_bootstrap_ci, then the Laplace inverse-CDF -- so the release is
    replayable bit-for-bit on any cluster AND recomputable by the
    oracle; a production release would swap the salt for a secret drawn
    once per release.

    Scale: one partial-agg shuffle to the (bounded) cell grain; noise is
    a scalar expression on the handful of cells.  The pattern is the
    standard one for publishing corpus/telemetry stats without exposing
    individual rows."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    u = (
        F.expr(
            "cast(conv(substr(md5(concat(event_type, '_" + _DP_SEED + "')),"
            " 1, 12), 16, 10) as double)"
        )
        + F.lit(0.5)
    ) / F.lit(float(16**12))
    lap = (
        F.lit(-1.0 / DP_EPS)
        * F.signum(u - 0.5)
        * F.log(1 - 2 * F.abs(u - 0.5))
    )
    return (
        cell.select(
            "event_type",
            F.round(F.col("n") + lap, 4).alias("noisy_count"),
            F.lit(float(DP_EPS)).alias("epsilon"),
        )
        .orderBy("event_type")
    )


FDR_ALPHA = 0.05

@register(
    "fdr_bh_correction",
    oracle=f"""
    WITH stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(value) AS sv,
               AVG(value) AS m,
               var_samp(value) AS s2,
               SUM(value * value) AS svv
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT COUNT(*) AS n_all, SUM(value) AS sv_all,
               SUM(value * value) AS svv_all
        FROM events
    ),
    rest AS (
        SELECT s.event_type, s.n, s.m, s.s2,
               (sv_all - sv) / (n_all - n) AS m_rest,
               ((svv_all - svv)
                - (sv_all - sv) * (sv_all - sv) / (n_all - n))
                   / (n_all - n - 1) AS s2_rest,
               (n_all - n) AS n_rest
        FROM stats s, tot
    ),
    tests AS (
        SELECT event_type,
               (m - m_rest) / sqrt(s2 / n + s2_rest / n_rest) AS z
        FROM rest
    ),
    pvals AS (
        SELECT event_type, z,
               2 * (1 - (1 - (((((1.061405429 * t - 1.453152027) * t)
                   + 1.421413741) * t - 0.284496736) * t + 0.254829592)
                   * t * exp(-x * x))) AS p
        FROM (
            SELECT event_type, z, ABS(z) / sqrt(2) AS x,
                   1 / (1 + 0.3275911 * (ABS(z) / sqrt(2))) AS t
            FROM tests
        )
    ),
    ranked AS (
        SELECT event_type, z, p,
               ROW_NUMBER() OVER (ORDER BY p, event_type) AS i,
               COUNT(*) OVER () AS m_tests
        FROM pvals
    )
    SELECT event_type,
           ROUND(z, 6) AS z,
           ROUND(p, 6) AS p,
           ROUND(MIN(p * m_tests / i)
                     OVER (ORDER BY i DESC ROWS UNBOUNDED PRECEDING), 6)
               AS p_bh,
           MIN(p * m_tests / i)
               OVER (ORDER BY i DESC ROWS UNBOUNDED PRECEDING)
               <= {FDR_ALPHA} AS significant
    FROM ranked
    ORDER BY event_type
    """,
)
def fdr_bh_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control: each event type's mean value is
    Welch-z-tested against all other types, then the five p-values get
    the Benjamini-Hochberg step-up correction (adjusted p = running min
    from the worst rank of p*m/i; reject at FDR {FDR_ALPHA}).  The
    normal tail comes from the A&S 7.1.26 erf polynomial -- literal
    arithmetic identical in both engines, the trick that keeps a
    continuous-distribution p-value oracle-checkable.

    Scale: sufficient statistics (n, mean, variance) come from ONE
    grouped pass (complement stats by subtraction from the global
    totals); everything after is arithmetic on an enum-grain sliver,
    and the BH windows run over exactly m_tests=5 rows."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sv"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
        F.sum(F.col("value") * F.col("value")).alias("svv"),
    )
    tot = ev.agg(
        F.count("*").alias("n_all"),
        F.sum("value").alias("sv_all"),
        F.sum(F.col("value") * F.col("value")).alias("svv_all"),
    )
    rest = stats.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "m",
        "s2",
        ((F.col("sv_all") - F.col("sv")) / (F.col("n_all") - F.col("n"))).alias(
            "m_rest"
        ),
        (
            (
                (F.col("svv_all") - F.col("svv"))
                - (F.col("sv_all") - F.col("sv"))
                * (F.col("sv_all") - F.col("sv"))
                / (F.col("n_all") - F.col("n"))
            )
            / (F.col("n_all") - F.col("n") - 1)
        ).alias("s2_rest"),
        (F.col("n_all") - F.col("n")).alias("n_rest"),
    )
    tests = rest.select(
        "event_type",
        (
            (F.col("m") - F.col("m_rest"))
            / F.sqrt(F.col("s2") / F.col("n") + F.col("s2_rest") / F.col("n_rest"))
        ).alias("z"),
    )
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    t = 1 / (1 + 0.3275911 * x)
    erf = 1 - (
        ((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
         - 0.284496736) * t + 0.254829592
    ) * t * F.exp(-x * x)
    pvals = tests.select("event_type", "z", (2 * (1 - erf)).alias("p"))
    # rank + BH running min WITHOUT global windows: broadcast triangular
    # self-joins on the m_tests=5 enum-grain sliver (the repo-standard
    # bounded-prefix trick), zero WindowExec in the plan
    m = pvals.agg(F.count("*").alias("m_tests"))
    other = pvals.select(
        F.col("event_type").alias("o_type"), F.col("p").alias("o_p")
    )
    ranked = (
        pvals.join(
            F.broadcast(other),
            (F.col("o_p") < F.col("p"))
            | ((F.col("o_p") == F.col("p")) & (F.col("o_type") <= F.col("event_type"))),
        )
        .groupBy("event_type", "z", "p")
        .agg(F.count("*").alias("i"))
        .crossJoin(F.broadcast(m))
    )
    later = ranked.select(
        F.col("i").alias("j"),
        (F.col("p") * F.col("m_tests") / F.col("i")).alias("q_j"),
    )
    bh = (
        ranked.join(F.broadcast(later), F.col("j") >= F.col("i"))
        .groupBy("event_type", "z", "p")
        .agg(F.min("q_j").alias("p_bh_raw"))
    )
    return (
        bh.select(
            "event_type",
            F.round("z", 6).alias("z"),
            F.round("p", 6).alias("p"),
            F.round("p_bh_raw", 6).alias("p_bh"),
            (F.col("p_bh_raw") <= FDR_ALPHA).alias("significant"),
        )
        .orderBy("event_type")
    )


register_sql(
    "anova_variance_decomposition",
    """One-way ANOVA of event value by type: between-group vs
    within-group sum of squares, eta-squared (share of variance the
    grouping explains) and the F statistic -- the
    does-this-segmentation-matter test run before investing in per-type
    models.  Same sufficient-statistics discipline as
    fdr_bh_correction: one grouped pass for (n, sum, sum-of-squares)
    per type, identical closed forms in both engines so the
    floating-point cancellation profile matches, everything after is
    arithmetic on the enum-grain sliver.""",
    """
    WITH g AS (
        SELECT event_type, COUNT(*) AS n, SUM(value) AS sv,
               SUM(value * value) AS svv
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT SUM(n) AS n_all, SUM(sv) AS sv_all,
               COUNT(*) AS k
        FROM g
    ),
    parts AS (
        SELECT SUM(svv - sv * sv / n) AS ssw,
               SUM(n * (sv / n - sv_all / n_all)
                     * (sv / n - sv_all / n_all)) AS ssb,
               MAX(n_all) AS n_all, MAX(k) AS k
        FROM g, tot
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n_all AS BIGINT) AS n_rows,
           ROUND(ssb, 4) AS ss_between,
           ROUND(ssw, 4) AS ss_within,
           ROUND(ssb / (ssb + ssw), 6) AS eta_squared,
           ROUND((ssb / (k - 1)) / (ssw / (n_all - k)), 6) AS f_stat
    FROM parts
    """,
)
