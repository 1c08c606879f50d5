"""Statistical-audit operators, round 4 batch 3: seasonal anomaly
detection, survey sampling allocation, Benford screening, and a
deterministic bootstrap.

Engine extensions (the reference's statistics surface is the Pearson
correlation matrix, correlation_analysis.py:82-136); all four are
textbook public methods chosen so both engines can evaluate them
bit-stably:

  * ``seasonal_residual_anomalies`` -- day-of-week-adjusted volume
    anomalies: daily event counts minus their weekday mean, flagged at
    |z| > 2 of the residual distribution (the seasonal sibling of
    ``zscore_anomalies``).
  * ``neyman_allocation``  -- optimal stratified-sampling allocation
    (Neyman 1934, public): sample budget split across language strata
    proportional to N_h * S_h, the variance-minimizing design the
    stratified sampler should be driven by.
  * ``benford_audit``      -- first-significant-digit distribution of
    order totals vs Benford's law with per-digit chi-square
    contributions.  Expected shares are pinned literals (log10(1+1/d))
    so neither engine's libm rounding participates; the first digit
    comes from the integer part's string form, not floating log10.
  * ``hash_bootstrap_ci``  -- subsampling bootstrap of the per-user
    mean value with md5-hash half-samples instead of RNG: replayable
    on any cluster, identical in both engines.

Scale design: every query reduces to a tiny grain before any window or
join -- calendar days, |strata|, 9 digits, B=64 resamples.  The
bootstrap replicates per-user rows map-side (64x a user-level sliver,
never raw events) and collapses immediately to 64 resample means.

``neyman_allocation`` and ``simpson_diversity_by_source`` are written
once, as their oracle SQL: Spark runs that text verbatim over the
fixture views (``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

Z_FLAG = 2.0  # |z| threshold for seasonal anomalies
SAMPLE_BUDGET = 1000  # Neyman total sample size
N_BOOT = 64  # bootstrap resamples

# log10(1 + 1/d) for d = 1..9, pinned so both engines share one literal
BENFORD = [
    (1, 0.30103), (2, 0.17609), (3, 0.12494), (4, 0.09691), (5, 0.07918),
    (6, 0.06695), (7, 0.05799), (8, 0.05115), (9, 0.04576),
]
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD
) + " END"


@register(
    "seasonal_residual_anomalies",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY d
    ),
    dowed AS (
        SELECT d, n, CAST((d - DATE '1970-01-01') % 7 AS BIGINT) AS dow
        FROM daily
    ),
    expected AS (
        SELECT dow, AVG(n) AS dow_mean FROM dowed GROUP BY dow
    ),
    resid AS (
        SELECT dowed.d, dowed.n, expected.dow_mean,
               dowed.n - expected.dow_mean AS r
        FROM dowed JOIN expected USING (dow)
    ),
    spread AS (
        SELECT stddev_pop(r) AS s FROM resid
    )
    SELECT d, n,
           ROUND(dow_mean, 4) AS expected_n,
           ROUND(r, 4) AS residual,
           ROUND(r / s, 4) AS z
    FROM resid, spread
    WHERE ABS(r / s) > {Z_FLAG}
    ORDER BY d
    """,
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-adjusted volume anomalies: each day's event count minus
    its day-of-week mean, flagged where the residual exceeds
    {Z_FLAG} population standard deviations.  Catches the "quiet
    Tuesday" a raw z-score misses because weekends dominate the spread.

    Scale: events collapse to |dates| rows first; the weekday means are
    a 7-row broadcast; the residual spread a 1-row broadcast.  No
    window at all -- everything is aggregate + broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(F.count("*").alias("n"))
    dowed = daily.withColumn(
        "dow", (F.datediff("d", F.lit("1970-01-01")) % 7).cast("bigint")
    )
    expected = dowed.groupBy("dow").agg(F.avg("n").alias("dow_mean"))
    resid = dowed.join(F.broadcast(expected), "dow").withColumn(
        "r", F.col("n") - F.col("dow_mean")
    )
    spread = resid.agg(F.stddev_pop("r").alias("s"))
    return (
        resid.crossJoin(F.broadcast(spread))
        .filter(F.abs(F.col("r") / F.col("s")) > Z_FLAG)
        .select(
            "d",
            "n",
            F.round("dow_mean", 4).alias("expected_n"),
            F.round("r", 4).alias("residual"),
            F.round(F.col("r") / F.col("s"), 4).alias("z"),
        )
        .orderBy("d")
    )


register_sql(
    "neyman_allocation",
    f"""Neyman-optimal stratified sample allocation over language strata:
    each stratum's share of the {SAMPLE_BUDGET}-row budget is
    N_h*S_h / sum(N_h*S_h) (bigger and more variable strata get more
    samples -- the design that minimizes the estimator variance).
    Floor-rounded so the allocation is deterministic.

    Scale: one partial-aggregated shuffle to |strata| rows, then a
    1-row denominator broadcast.  This is the allocator that should
    drive ``stratified_sample_lang`` at 100 TB.""",
    f"""
    WITH strata AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               stddev_pop(n_chars) AS s_h
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT SUM(n_h * s_h) AS denom FROM strata
    )
    SELECT lang, n_h,
           ROUND(s_h, 4) AS stddev_chars,
           ROUND(n_h * s_h / denom, 6) AS weight,
           CAST(FLOOR({SAMPLE_BUDGET} * n_h * s_h / denom) AS BIGINT)
               AS alloc_n
    FROM strata, tot
    ORDER BY lang
    """,
)


@register(
    "benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (
        SELECT SUM(n) AS total FROM obs
    )
    SELECT digit, n,
           ROUND(n * 1.0 / total, 5) AS obs_share,
           {_BENFORD_SQL_CASE} AS exp_share,
           ROUND(total * POWER(n * 1.0 / total - {_BENFORD_SQL_CASE}, 2)
                 / {_BENFORD_SQL_CASE}, 4) AS chi2_part
    FROM obs, tot
    ORDER BY digit
    """,
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen of order totals: observed first-significant-
    digit shares vs log10(1+1/d), with each digit's chi-square
    contribution (large parts localize the distortion).  The digit is
    taken from the integer part's decimal string -- identical in both
    engines -- and the expected shares are pinned literals, so no libm
    log10 is in the comparison path.  FLOOR before the integer cast is
    load-bearing: DuckDB's double->BIGINT cast rounds half-away while
    Spark's truncates, which flips e.g. 8999.6 between digits 8 and 9.

    Scale: a single scan reduces to 9 digit rows; the total is a 1-row
    broadcast.  (Synthetic uniform-ish fixture prices will FAIL the
    screen -- that is the audit working as intended.)"""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    exp_share = F.element_at(
        F.create_map(
            *[F.lit(x) for pair in BENFORD for x in pair]
        ),
        F.col("digit").cast("int"),
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 5).alias("obs_share"),
            exp_share.alias("exp_share"),
            F.round(
                F.col("total")
                * F.pow(F.col("n") / F.col("total") - exp_share, 2)
                / exp_share,
                4,
            ).alias("chi2_part"),
        )
        .orderBy("digit")
    )


@register(
    "hash_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, SUM(value) AS total_value
        FROM events GROUP BY user_id
    ),
    resampled AS (
        SELECT b.b, per_user.total_value
        FROM per_user, LATERAL (
            SELECT UNNEST(generate_series(0, {N_BOOT - 1})) AS b
        ) AS b
        WHERE (('0x' || substr(md5(per_user.user_id || '_' || b.b), 1, 8))::BIGINT) % 2 = 0
    ),
    boot AS (
        SELECT b, AVG(total_value) AS m FROM resampled GROUP BY b
    ),
    full_mean AS (
        SELECT AVG(total_value) AS mu FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           ROUND(MAX(mu), 4) AS full_sample_mean,
           ROUND(AVG(m), 4) AS boot_mean,
           ROUND(stddev_pop(m), 4) AS boot_se,
           ROUND(MIN(m), 4) AS boot_min,
           ROUND(MAX(m), 4) AS boot_max
    FROM boot, full_mean
    """,
)
def hash_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsampling bootstrap of the mean per-user value:
    {N_BOOT} half-samples drawn by md5(user, b) parity instead of RNG,
    so the interval is replayable bit-for-bit on any cluster and in
    both engines.  Reports the resample spread (SE and range) around
    the full-sample mean.

    Scale: users collapse to one row each first; the {N_BOOT}x
    replication happens on that user-level sliver map-side (explode of
    a literal range -- no shuffle) and collapses immediately to
    {N_BOOT} resample means.  Raw events are scanned exactly once."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("total_value"))
    resampled = (
        per_user.select(
            "user_id",
            "total_value",
            F.explode(F.sequence(F.lit(0), F.lit(N_BOOT - 1))).alias("b"),
        )
        .filter(
            F.expr(
                "cast(conv(substr(md5(concat(user_id, '_', b)), 1, 8), 16, 10)"
                " as bigint) % 2 = 0"
            )
        )
    )
    boot = resampled.groupBy("b").agg(F.avg("total_value").alias("m"))
    full_mean = per_user.agg(F.avg("total_value").alias("mu"))
    return boot.crossJoin(F.broadcast(full_mean)).agg(
        F.count("*").alias("n_resamples"),
        F.round(F.max("mu"), 4).alias("full_sample_mean"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_pop("m"), 4).alias("boot_se"),
        F.round(F.min("m"), 4).alias("boot_min"),
        F.round(F.max("m"), 4).alias("boot_max"),
    )


@register(
    "mad_outliers_per_lang",
    oracle="""
    WITH med AS (
        SELECT lang, quantile_cont(n_chars, 0.5) AS med_chars
        FROM documents GROUP BY lang
    ),
    dev AS (
        SELECT d.lang, d.doc_id, d.n_chars, m.med_chars,
               ABS(d.n_chars - m.med_chars) AS adev
        FROM documents d JOIN med m ON d.lang = m.lang
    ),
    mad AS (
        SELECT lang, quantile_cont(adev, 0.5) AS mad_chars
        FROM dev GROUP BY lang
    )
    SELECT dev.lang, dev.doc_id, CAST(dev.n_chars AS BIGINT) AS n_chars,
           ROUND(0.6745 * (dev.n_chars - dev.med_chars)
                 / mad.mad_chars, 4) AS robust_z
    FROM dev JOIN mad ON dev.lang = mad.lang
    WHERE mad.mad_chars > 0
      AND ABS(0.6745 * (dev.n_chars - dev.med_chars) / mad.mad_chars) > 3.5
    ORDER BY dev.lang, dev.doc_id
    """,
)
def mad_outliers_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via the modified z-score (Iglewicz-Hoaglin,
    public): 0.6745 * (x - median) / MAD, flagged past 3.5 -- immune to
    the outliers themselves inflating the spread, unlike the plain
    z-score screens (zscore_anomalies, seasonal_residual_anomalies).

    Scale: both the median and the MAD are exact percentile AGGREGATES
    partitioned by language (no global sort, no window); the per-doc
    pass joins two |languages|-row broadcast tables.  Two scans by
    construction (MAD needs the median first) -- same two-pass shape
    as DSIR."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med_chars")
    )
    dev = docs.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med_chars"))
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_chars")
    )
    # zero-MAD guard (round-12 Unicode sweep: a single-doc language has
    # MAD 0 and the raw division THROWS under ANSI).  Policy: a group
    # with no defined spread has no outliers -- the lazy CASE keeps the
    # division unevaluated for those rows in both engines
    rz = F.when(
        F.col("mad_chars") > 0,
        0.6745 * (F.col("n_chars") - F.col("med_chars")) / F.col("mad_chars"),
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .filter(F.abs(rz) > 3.5)
        .select(
            "lang",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(rz, 4).alias("robust_z"),
        )
        .orderBy("lang", "doc_id")
    )


@register(
    "psi_value_drift",
    oracle="""
    WITH bounds AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi,
               epoch_us(MIN(ts))
                   + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS mid_us
        FROM events
    ),
    binned AS (
        SELECT CASE WHEN epoch_us(ts) < mid_us THEN 'ref' ELSE 'cur' END
                   AS period,
               LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 10.0)) AS BIGINT),
                     9) AS bin
        FROM events, bounds
    ),
    dist AS (
        SELECT bin,
               COUNT(CASE WHEN period = 'ref' THEN 1 END) AS n_ref,
               COUNT(CASE WHEN period = 'cur' THEN 1 END) AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM dist
    )
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(((n_cur + 1.0) / (t_cur + 10))
                 - ((n_ref + 1.0) / (t_ref + 10)), 6) AS share_delta,
           ROUND((((n_cur + 1.0) / (t_cur + 10))
                  - ((n_ref + 1.0) / (t_ref + 10)))
                 * LN(((n_cur + 1.0) / (t_cur + 10))
                      / ((n_ref + 1.0) / (t_ref + 10))), 6) AS psi_part
    FROM dist, tot
    ORDER BY bin
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-value distribution
    between the first and second half of the observation window: the
    standard model-monitoring drift metric, emitted per bin so the
    drifting bins are visible (sum of psi_part > 0.2 = act).  Bins are
    fixed-width over the global range, NOT quantiles -- bin edges must
    not move between periods or PSI measures the binning, not the data.

    Shares are Laplace-smoothed ((n+1)/(t+10)) so an empty bin in one
    period contributes a finite part instead of an infinity (ANSI Spark
    would throw on the raw ratio; DuckDB would yield inf -- smoothing
    is also what production PSI does).  The midpoint is integer epoch
    MICROSECONDS on both sides: halving a timestamp INTERVAL
    integer-divides its days field in DuckDB, shifting the split by up
    to half a day.

    Scale: one scan, a 2-row bounds broadcast, rollup onto 10 bins."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        (
            F.unix_micros(F.min("ts"))
            + F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 2
            ).cast("bigint")
        ).alias("mid_us"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.unix_micros("ts") < F.col("mid_us"), "ref")
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10.0)
            ).cast("bigint"),
            F.lit(9),
        ).alias("bin"),
    )
    dist = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "ref", 1)).alias("n_ref"),
        F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur"),
    )
    tot = dist.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + 10)
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 10)
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_cur - p_ref, 6).alias("share_delta"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
                "psi_part"
            ),
        )
        .orderBy("bin")
    )


@register(
    "bayes_smoothed_dup_rates",
    oracle="""
    WITH flags AS (
        SELECT source,
               CASE WHEN COUNT(*) OVER (PARTITION BY md5(text)) > 1
                    THEN 1 ELSE 0 END AS is_dup
        FROM documents
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(is_dup) AS BIGINT) AS n_dups
        FROM flags GROUP BY source
    ),
    prior AS (
        SELECT SUM(n_dups) * 1.0 / SUM(n_docs) AS p0 FROM per_source
    )
    SELECT source, n_docs, n_dups,
           ROUND(n_dups * 1.0 / n_docs, 5) AS raw_rate,
           ROUND((n_dups + 20 * p0) / (n_docs + 20), 5) AS smoothed_rate,
           ROUND((n_dups + 20 * p0) / (n_docs + 20)
                 - n_dups * 1.0 / n_docs, 5) AS shrinkage
    FROM per_source, prior
    ORDER BY source
    """,
)
def bayes_smoothed_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage (the m-estimate, m=20): per-source
    duplicate rates pulled toward the corpus prior, so a source with 4
    documents can't top the dedup league on noise -- the standard
    correction before ranking small groups by any rate.

    Scale: the dup flag joins on the md5 digest partition (16-byte
    window key, no text on the shuffle); sources collapse to one row
    each; the prior is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    flags = docs.select(
        "source",
        F.when(F.count("*").over(w) > 1, 1).otherwise(0).alias("is_dup"),
    )
    per_source = flags.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("is_dup").alias("n_dups")
    )
    prior = per_source.agg(
        (F.sum("n_dups") / F.sum("n_docs")).alias("p0")
    )
    raw = F.col("n_dups") / F.col("n_docs")
    smoothed = (F.col("n_dups") + 20 * F.col("p0")) / (F.col("n_docs") + 20)
    return (
        per_source.crossJoin(F.broadcast(prior))
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.round(raw, 5).alias("raw_rate"),
            F.round(smoothed, 5).alias("smoothed_rate"),
            F.round(smoothed - raw, 5).alias("shrinkage"),
        )
        .orderBy("source")
    )


@register(
    "vocab_growth_curve",
    oracle="""
    WITH toks AS (
        SELECT CAST(doc_id % 10 AS BIGINT) AS grp, t.tok
        FROM documents, LATERAL UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    first_seen AS (
        SELECT tok, MIN(grp) AS first_grp FROM toks GROUP BY tok
    ),
    new_types AS (
        SELECT first_grp AS grp, CAST(COUNT(*) AS BIGINT) AS new_types
        FROM first_seen GROUP BY first_grp
    ),
    tokens_per AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY grp
    )
    SELECT t.grp,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.grp
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY t.grp
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM tokens_per t LEFT JOIN new_types n ON t.grp = n.grp
    ORDER BY t.grp
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct token types vs
    cumulative tokens as the corpus is consumed in 10 deterministic
    slices (doc_id mod) -- sublinear growth says the vocabulary is
    saturating, the signal tokenizer-budget planning reads.

    Scale: the curve needs no ordered scan -- each type's FIRST slice
    is a min-aggregate over the token stream, so the cumulative counts
    come from two bounded (10-row) rollups and a tiny window.  One
    token-grain shuffle total."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 10).cast("bigint").alias("grp"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    first_seen = toks.groupBy("tok").agg(F.min("grp").alias("first_grp"))
    new_types = first_seen.groupBy(F.col("first_grp").alias("grp")).agg(
        F.count("*").alias("new_types")
    )
    tokens_per = toks.groupBy("grp").agg(F.count("*").alias("n_tokens"))
    w = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens_per.join(new_types, "grp", "left")
        .select(
            "grp",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("new_types", F.lit(0))).over(w).alias("cum_vocab"),
        )
        .orderBy("grp")
    )


@register(
    "embedding_norm_qc",
    oracle="""
    WITH norms AS (
        SELECT vec_id, label,
               SQRT(list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                   AS l2
        FROM embeddings
    ),
    med AS (SELECT quantile_cont(l2, 0.5) AS m FROM norms),
    mad AS (
        SELECT quantile_cont(ABS(l2 - m), 0.5) AS mad FROM norms, med
    )
    SELECT vec_id, label,
           ROUND(l2, 5) AS l2,
           ROUND(0.6745 * (l2 - m) / mad, 4) AS robust_z
    FROM norms, med, mad
    WHERE ABS(0.6745 * (l2 - m) / mad) > 3.5
    ORDER BY vec_id
    """,
)
def embedding_norm_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store hygiene: embeddings whose L2 norm is a robust
    outlier (modified z past 3.5 on the norm distribution) -- the
    degenerate/corrupt vectors that poison cosine ANN (a zero-norm
    vector matches everything; a huge-norm one dominates dot products).

    Scale: norms are per-row folds (no shuffle); the median and MAD are
    exact percentile aggregates broadcast back as single rows; the
    filter is row-local."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        "label",
        F.sqrt(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, x) -> acc + cast(x as double) * cast(x as double))"
            )
        ).alias("l2"),
    )
    med = norms.agg(F.expr("percentile(l2, 0.5)").alias("m"))
    mad = (
        norms.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(l2 - m), 0.5)").alias("mad"))
    )
    rz = 0.6745 * (F.col("l2") - F.col("m")) / F.col("mad")
    return (
        norms.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .filter(F.abs(rz) > 3.5)
        .select(
            "vec_id",
            "label",
            F.round("l2", 5).alias("l2"),
            F.round(rz, 4).alias("robust_z"),
        )
        .orderBy("vec_id")
    )


register_sql(
    "simpson_diversity_by_source",
    """Language diversity per source via the Simpson index (1 - sum of
    squared shares: the probability two random docs differ in
    language) -- the one-number mixture check next to the full MI and
    chi-square drift screens.

    Scale: a (source, lang)-bounded rollup, per-source totals broadcast
    back, final aggregate on |sources| rows.""",
    """
    WITH counts AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT source, SUM(n) AS src_n FROM counts GROUP BY source
    )
    SELECT c.source,
           CAST(MAX(t.src_n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(1 - SUM(POWER(c.n * 1.0 / t.src_n, 2)), 6)
               AS simpson_diversity
    FROM counts c JOIN tot t ON c.source = t.source
    GROUP BY c.source
    ORDER BY c.source
    """,
)


@register(
    "effective_sample_size",
    oracle="""
    WITH w AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS wt
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(wt) AS BIGINT) AS total_weight,
           ROUND(POWER(SUM(wt), 2) * 1.0 / SUM(wt * wt), 4) AS ess,
           ROUND(POWER(SUM(wt), 2) * 1.0 / SUM(wt * wt) / COUNT(*), 6)
               AS ess_ratio
    FROM w
    GROUP BY lang
    ORDER BY lang
    """,
)
def effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size under token-count weighting, per
    language: (sum w)^2 / sum w^2 -- how many equal-weight documents
    the weighted corpus is actually worth.  ess_ratio near 1 means
    lengths are uniform; a low ratio warns that a few long documents
    dominate any length-weighted statistic (loss means, mixture
    shares), the diagnostic importance-sampling pipelines (DSIR,
    quality weighting) must watch.

    Scale: integer sufficient statistics (sum w, sum w^2) in one
    partial-aggregated pass -- exact regardless of partition order."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "lang", F.size(F.split("text", " ")).cast("bigint").alias("wt")
    )
    return (
        w.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("wt").alias("total_weight"),
            F.round(
                F.pow(F.sum("wt"), 2) / F.sum(F.col("wt") * F.col("wt")), 4
            ).alias("ess"),
            F.round(
                F.pow(F.sum("wt"), 2)
                / F.sum(F.col("wt") * F.col("wt"))
                / F.count("*"),
                6,
            ).alias("ess_ratio"),
        )
        .orderBy("lang")
    )


@register(
    "ks_test_two_sample",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS sa,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sb
        FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    g AS (
        SELECT value, SUM(sa) AS na, SUM(sb) AS nb FROM s GROUP BY value
    ),
    c AS (
        SELECT value,
               SUM(na) OVER (ORDER BY value) AS ca,
               SUM(nb) OVER (ORDER BY value) AS cb
        FROM g
    ),
    t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM g)
    SELECT ROUND(MAX(ABS(CAST(ca AS DOUBLE) / ta
                         - CAST(cb AS DOUBLE) / tb)), 6) AS ks_stat,
           CAST(MAX(ta) AS BIGINT) AS n_a,
           CAST(MAX(tb) AS BIGINT) AS n_b
    FROM c, t
    """,
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic (Smirnov 1939;
    standard distribution-shift screen between two cohorts -- here
    signup vs purchase event values): the max ECDF gap evaluated at
    every distinct pooled value, which is exactly where the supremum is
    attained.

    Scale design -- the ECDF is a global PREFIX SUM, and the naive
    formulation is a single unpartitioned running-sum window.  Instead
    the value-grain count table is range-bucketed by boundary literals
    frozen from one approx_percentile action (the ops/scalable_rank
    recipe), cumulated INSIDE each bucket by a bucket-partitioned
    window, and offset by the preceding buckets' totals via a
    triangular join over the npart-row bucket-count table (broadcast,
    bounded metadata).  Sample totals ride the same npart-row table --
    the full statistic needs zero unpartitioned windows and zero extra
    passes over the events.  Exact for any bucket boundaries: strict
    less-than bucketing keeps tied values in one bucket."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    g = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("na"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("nb"),
    )
    from wsu_cpts_415_spark.ops.scalable_rank import rank_bounds
    from wsu_cpts_415_spark.ops.staging import staged_model

    # frozen bucket boundaries are model-sized trained values (the
    # cohorts staged_model convention): one approx_percentile action
    # per (session, dataset), identical literals on every later call
    stats = staged_model(
        spark,
        "ks_value_bounds",
        sf_dir,
        lambda: rank_bounds(g, ["value"], npart=32),
    )
    bounds_arr = F.array(
        *[
            F.lit(b).cast(g.schema["value"].dataType)
            for b in stats["bounds"]["value"]
            if b is not None
        ]
    )
    parts = g.withColumn(
        "_pid", F.size(F.filter(bounds_arr, lambda b: b < F.col("value")))
    )
    bcounts = parts.groupBy("_pid").agg(
        F.sum("na").alias("bna"), F.sum("nb").alias("bnb")
    )
    a, b = bcounts.alias("a"), bcounts.alias("b")
    offsets = (
        a.join(b, F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            F.coalesce(F.sum("b.bna"), F.lit(0)).alias("offa"),
            F.coalesce(F.sum("b.bnb"), F.lit(0)).alias("offb"),
        )
    )
    totals = bcounts.agg(
        F.sum("bna").alias("ta"), F.sum("bnb").alias("tb")
    )
    w = Window.partitionBy("_pid").orderBy("value")
    return (
        parts.join(F.broadcast(offsets), "_pid")
        .withColumn("ca", F.sum("na").over(w) + F.col("offa"))
        .withColumn("cb", F.sum("nb").over(w) + F.col("offb"))
        .crossJoin(F.broadcast(totals))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("ca").cast("double") / F.col("ta")
                        - F.col("cb").cast("double") / F.col("tb")
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.max("ta").cast("bigint").alias("n_a"),
            F.max("tb").cast("bigint").alias("n_b"),
        )
    )


@register(
    "mannwhitney_u_test",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS sa,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sb
        FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    g AS (
        SELECT value, SUM(sa) AS na, SUM(sb) AS nb FROM s GROUP BY value
    ),
    c AS (
        SELECT value, na, nb, na + nb AS n,
               SUM(na + nb) OVER (ORDER BY value) AS cum
        FROM g
    ),
    t AS (
        SELECT SUM(na) AS ta, SUM(nb) AS tb, SUM(na + nb) AS nn,
               SUM(CAST((na + nb) AS DOUBLE) * (na + nb) * (na + nb)
                   - (na + nb)) AS tie
        FROM g
    ),
    r AS (
        SELECT SUM(na * (cum - n + (n + 1) / 2.0)) AS ra FROM c
    )
    SELECT ROUND(ra - ta * (ta + 1) / 2.0, 4) AS u_stat,
           ROUND((ra - ta * (ta + 1) / 2.0) / (CAST(ta AS DOUBLE) * tb), 6)
               AS auc,
           ROUND((ra - ta * (ta + 1) / 2.0 - CAST(ta AS DOUBLE) * tb / 2.0)
                 / SQRT(CAST(ta AS DOUBLE) * tb / 12.0
                        * ((nn + 1) - tie / (CAST(nn AS DOUBLE) * (nn - 1)))),
                 6) AS z_score,
           CAST(ta AS BIGINT) AS n_a,
           CAST(tb AS BIGINT) AS n_b
    FROM r, t
    """,
)
def mannwhitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test between the same two
    cohorts as ``ks_test_two_sample``, with midranks for ties and the
    tie-corrected normal approximation; AUC = U/(n_a*n_b) is the
    probability-of-superiority effect size (the ROC-AUC identity).

    Scale design: the SAME bucket-prefix-scan as the KS query -- ranks
    need a global prefix sum over the value grain, so the pooled count
    table is range-bucketed by frozen boundaries, cumulated per bucket,
    and offset via the broadcast triangular bucket join; midranks then
    collapse in one aggregate.  Tie terms (n^3 - n) ride the same
    value-grain pass.  Zero unpartitioned windows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    g = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("na"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("nb"),
    ).withColumn("n", F.col("na") + F.col("nb"))
    from wsu_cpts_415_spark.ops.scalable_rank import rank_bounds
    from wsu_cpts_415_spark.ops.staging import staged_model

    # frozen bucket boundaries are model-sized trained values (the
    # cohorts staged_model convention): one approx_percentile action
    # per (session, dataset), identical literals on every later call
    stats = staged_model(
        spark,
        "mannwhitney_value_bounds",
        sf_dir,
        lambda: rank_bounds(g, ["value"], npart=32),
    )
    bounds_arr = F.array(
        *[
            F.lit(b).cast(g.schema["value"].dataType)
            for b in stats["bounds"]["value"]
            if b is not None
        ]
    )
    parts = g.withColumn(
        "_pid", F.size(F.filter(bounds_arr, lambda b: b < F.col("value")))
    )
    bcounts = parts.groupBy("_pid").agg(F.sum("n").alias("bn"))
    a, b = bcounts.alias("a"), bcounts.alias("b")
    offsets = (
        a.join(b, F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b.bn"), F.lit(0)).alias("off"))
    )
    totals = g.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.sum("n").alias("nn"),
        F.sum(
            F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
        ).alias("tie"),
    )
    w = Window.partitionBy("_pid").orderBy("value")
    cum = F.sum("n").over(w) + F.col("off")
    midrank = cum - F.col("n") + (F.col("n") + 1) / 2.0
    ta, tb, nn = F.col("ta"), F.col("tb"), F.col("nn")
    u = F.col("ra") - ta * (ta + 1) / 2.0
    sigma = F.sqrt(
        ta.cast("double") * tb / 12.0
        * ((nn + 1) - F.col("tie") / (nn.cast("double") * (nn - 1)))
    )
    return (
        parts.join(F.broadcast(offsets), "_pid")
        .withColumn("midrank", midrank)
        .agg(F.sum(F.col("na") * F.col("midrank")).alias("ra"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.round(u, 4).alias("u_stat"),
            F.round(u / (ta.cast("double") * tb), 6).alias("auc"),
            F.round(
                (u - ta.cast("double") * tb / 2.0) / sigma, 6
            ).alias("z_score"),
            ta.cast("bigint").alias("n_a"),
            tb.cast("bigint").alias("n_b"),
        )
    )


HILL_K = 100  # order statistics used by the tail estimator


@register(
    "hill_tail_index",
    oracle=f"""
    WITH ranked AS (
        SELECT CAST(n_chars AS DOUBLE) AS x,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
        FROM documents
    ),
    xk AS (
        SELECT x AS x_k FROM ranked WHERE rnk = {HILL_K} + 1
    )
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           ROUND(MAX(x_k), 4) AS x_min,
           ROUND(AVG(LN(ranked.x / xk.x_k)), 6) AS hill,
           ROUND(1.0 / AVG(LN(ranked.x / xk.x_k)), 6) AS alpha
    FROM ranked, xk
    WHERE ranked.rnk <= {HILL_K}
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index: over the
    {HILL_K} largest documents, hill = mean ln(x_i / x_(k+1)) and the
    Pareto exponent alpha = 1/hill -- the number that says whether a
    max-length cap or length-stratified packing is needed (alpha <= 2:
    heavy tail, a few giants dominate token mass; zipf_slope is the
    token-frequency sibling of the same diagnostic).

    Scale: the ONLY ordered structure is a global top-(k+1), which
    compiles to TakeOrderedAndProject (per-partition heaps, k+1 rows to
    the driver-side merge -- no global sort); the estimator itself is
    one aggregate over k rows.  Deterministic under ties via the
    (n_chars desc, doc_id) order."""
    docs = load_table(spark, sf_dir, "documents")
    top = (
        docs.select(F.col("n_chars").cast("double").alias("x"), "doc_id")
        .orderBy(F.desc("x"), "doc_id")
        .limit(HILL_K + 1)
    )
    # window-free rank on the k+1 slice: the (k+1)-th order statistic is
    # the slice's minimum under the (x asc, doc_id desc) total order --
    # min_by of the struct, no WindowExec, no single-partition warning
    boundary = top.agg(
        F.min(F.struct(F.col("x"), (-F.col("doc_id")).alias("nd"))).alias(
            "mn"
        )
    ).select(
        F.col("mn.x").alias("x_k"), (-F.col("mn.nd")).alias("k_doc")
    )
    return (
        top.crossJoin(F.broadcast(boundary))
        .filter(
            ~((F.col("x") == F.col("x_k")) & (F.col("doc_id") == F.col("k_doc")))
        )
        .agg(
            F.lit(HILL_K).cast("bigint").alias("k"),
            F.round(F.max("x_k"), 4).alias("x_min"),
            F.round(F.avg(F.log(F.col("x") / F.col("x_k"))), 6).alias("hill"),
            F.round(
                1.0 / F.avg(F.log(F.col("x") / F.col("x_k"))), 6
            ).alias("alpha"),
        )
    )


@register(
    "wasserstein_value_drift",
    oracle="""
    WITH tagged AS (
        SELECT event_type, value,
               CAST(ts AS TIMESTAMP)
                   >= (SELECT make_timestamp(
                           (epoch_us(CAST(MIN(ts) AS TIMESTAMP))
                            + epoch_us(CAST(MAX(ts) AS TIMESTAMP))) // 2)
                       FROM events)
                   AS is_b
        FROM events
    ),
    pts AS (
        SELECT event_type, value AS v,
               SUM(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS nb
        FROM tagged GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
        FROM pts GROUP BY 1
    ),
    curve AS (
        SELECT p.event_type, p.v,
               SUM(p.na) OVER w / t.ta AS fa,
               SUM(p.nb) OVER w / t.tb AS fb,
               LEAD(p.v) OVER (PARTITION BY p.event_type ORDER BY p.v) AS nv
        FROM pts p JOIN tot t USING (event_type)
        WINDOW w AS (PARTITION BY p.event_type ORDER BY p.v
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type,
           ROUND(SUM(ABS(fa - fb) * (nv - v)), 6) AS w1_distance
    FROM curve
    WHERE nv IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between each event
    type's value distribution in the first vs second half of the time
    range: the integral of |ECDF_A - ECDF_B| over the merged support --
    the drift magnitude in VALUE UNITS, where the KS test
    (ks_test_two_sample) gives only the worst single gap.  Both ECDFs
    ride one prefix window over the per-(type, value) count table.

    Scale: the scan collapses to (type, distinct value) grain with
    side-tagged counts first; the prefix window partitions by the enum
    type.  A type whose distinct-value support outgrows a partition
    routes the same prefix through the value-bucketed offset form
    (ops/scalable_rank.py; the ks_test kernel shows it) -- the
    formulation is unchanged, only the prefix transport differs."""
    ev = load_table(spark, sf_dir, "events")
    # epoch-microsecond midpoint: interval/2 halves day and time
    # components separately in some engines (DuckDB floors the day
    # count), so both sides use integer micros arithmetic
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.timestamp_micros(
            (
                (F.unix_micros("lo") + F.unix_micros("hi")) / F.lit(2)
            ).cast("long")
        ).alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.col("value").alias("v"),
        (F.col("ts") >= F.col("mid")).alias("is_b"),
    )
    pts = tagged.groupBy("event_type", "v").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("nb"),
    )
    tot = pts.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("event_type").orderBy("v")
    curve = (
        pts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "v",
            (F.sum("na").over(w) / F.col("ta")).alias("fa"),
            (F.sum("nb").over(w) / F.col("tb")).alias("fb"),
            F.lead("v").over(w_lead).alias("nv"),
        )
    )
    return (
        curve.filter(F.col("nv").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.abs(F.col("fa") - F.col("fb")) * (F.col("nv") - F.col("v"))),
                6,
            ).alias("w1_distance")
        )
        .orderBy("event_type")
    )
