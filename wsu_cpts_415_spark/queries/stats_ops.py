"""Statistical shapes rounding out the aggregate surface: time-interval
rolling windows, fixed-width histograms, and deterministic per-group mode.

Each exercises a distinct engine capability not covered elsewhere in the
suite: a RANGE frame over *time* (vs the value-RANGE frame in
``range_frame_sum``), binning as pure arithmetic (the scalable
alternative to sorting for distribution sketches), and argmax-by-count
with a total-order tie policy.

``rolling_7d_avg``, ``histogram_bins``, ``mode_per_group`` and
``mutual_information_lang_source`` are written once, as their oracle
SQL: Spark runs that text verbatim over the fixture views
(``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.registry import register, register_sql

BIN_WIDTH = 5000.0  # histogram bin width over l_extendedprice


register_sql(
    "rolling_7d_avg",
    """Trailing 7-day average of the daily event-value total: a RANGE
    frame over TIME (gaps in the calendar shrink the frame -- a ROWS
    frame would silently average the wrong days).  Daily totals are
    rounded before the window so the frame consumes identical inputs in
    both engines.

    Scale: the window runs over the per-DAY aggregate (bounded
    cardinality: 365 rows/year), not raw events -- the heavy reduction
    happens in the partial-combining groupBy underneath, so the
    unpartitioned window is a non-issue at any corpus size.""",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               ROUND(SUM(value), 4) AS daily_total
        FROM events GROUP BY 1
    )
    SELECT d, daily_total,
           ROUND(AVG(daily_total) OVER (
               ORDER BY d
               RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW
           ), 4) AS avg_7d
    FROM daily
    ORDER BY d
    """,
)


register_sql(
    "histogram_bins",
    f"""Fixed-width value histogram of l_extendedprice (width
    {BIN_WIDTH:.0f}): binning is row-local arithmetic + one hash
    aggregate on a bounded key space -- the distribution sketch that
    needs NO sort and NO percentile state, the first thing to reach for
    at 100 TB before any quantile machinery.""",
    f"""
    SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / {BIN_WIDTH}) AS BIGINT)
               AS bin,
           CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / {BIN_WIDTH})
                * {BIN_WIDTH} AS DOUBLE) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY bin
    """,
)


register_sql(
    "mode_per_group",
    """Most frequent order priority per order status, smallest-value
    tie-break (Spark's ``mode()`` and DuckDB's ``mode()`` both leave
    ties unspecified -- an explicit count + rank is the portable,
    deterministic form).  Two partial-combining aggregates over a
    statuses x priorities bounded key space; the window sees one row per
    combination, never data.""",
    """
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
        SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY COUNT(*) DESC, o_orderpriority
               ) AS rn
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    )
    WHERE rn = 1
    ORDER BY o_orderstatus
    """,
)


@register(
    "linreg_chars_on_tokens",
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(n_chars, len(regexp_split_to_array(text, '\s+'))),
                 4) AS slope,
           ROUND(regr_intercept(n_chars,
                 len(regexp_split_to_array(text, '\s+'))), 4) AS intercept,
           ROUND(regr_r2(n_chars, len(regexp_split_to_array(text, '\s+'))),
                 6) AS r2
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def linreg_chars_on_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OLS fit of document length (chars) on whitespace
    token count: slope ~ average token+separator width, r2 ~ how
    length-predictable the language is.  The simplest member of the
    distributed-regression family: closed-form from six running sums
    (n, Sx, Sy, Sxx, Syy, Sxy), all map-side combinable -- the same
    sufficient-statistics pattern scales to multi-feature normal
    equations via a Gram-matrix aggregate (X'X is features^2 numbers
    per group regardless of row count).

    Both engines evaluate their native regr_* aggregates over the
    identical tokenization (split on runs of whitespace), so the fit is
    bit-comparable after rounding.
    """
    from wsu_cpts_415_spark.io.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    x = F.expr(r"size(split(text, '\\s+'))").cast("double")
    y = F.col("n_chars").cast("double")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
        .orderBy("lang")
    )


# Shared Cramer-solve formulas for the 3x3 normal equations (intercept +
# 2 features).  The SAME text is evaluated by Spark and DuckDB: the
# sufficient statistics are exact integers (counts and sums of integer
# products, all < 2^53), so the doubles entering these expressions are
# bit-identical in both engines, and identical expression trees produce
# identical IEEE results.
_NE_DET = (
    "(n * (s11 * s22 - s12 * s12)"
    " - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_NE_DET0 = (
    "(sy * (s11 * s22 - s12 * s12)"
    " - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_NE_DET1 = (
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_NE_DET2 = (
    "(n * (s11 * s2y - s1y * s12)"
    " - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)


@register(
    "linreg_normal_equations",
    oracle=rf"""
    WITH feat AS (
        SELECT CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS x1,
               CAST(len(list_distinct(regexp_split_to_array(text, '\s+')))
                    AS BIGINT) AS x2,
               n_chars AS y
        FROM documents
    ),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x1) AS DOUBLE) AS s1,
               CAST(SUM(x2) AS DOUBLE) AS s2,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
               CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
               CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
               CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
               CAST(SUM(x2 * y) AS DOUBLE) AS s2y
        FROM feat
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND({_NE_DET0} / {_NE_DET}, 6) AS beta0,
           ROUND({_NE_DET1} / {_NE_DET}, 6) AS beta1,
           ROUND({_NE_DET2} / {_NE_DET}, 6) AS beta2
    FROM g
    """,
)
def linreg_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature distributed OLS by normal equations: fit
    n_chars ~ b0 + b1*ws_tokens + b2*unique_tokens in ONE aggregate pass
    (the Gram matrix X'X and X'y are nine sufficient statistics, all
    map-side combinable) and a closed-form 3x3 Cramer solve on the
    single-row result.

    This is the pattern that scales regression to 100 TB: row count
    never matters, only features^2 numbers cross the wire, and because
    the statistics here are exact integers below 2^53 the result is
    bit-deterministic regardless of partitioning -- the oracle runs the
    byte-identical solve formulas over the same sums.
    """
    from wsu_cpts_415_spark.io.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    feat = docs.select(
        F.expr(r"cast(size(split(text, '\\s+')) as bigint)").alias("x1"),
        F.expr(
            r"cast(size(array_distinct(split(text, '\\s+'))) as bigint)"
        ).alias("x2"),
        F.col("n_chars").alias("y"),
    )
    g = feat.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(f"round({_NE_DET0} / {_NE_DET}, 6)").alias("beta0"),
        F.expr(f"round({_NE_DET1} / {_NE_DET}, 6)").alias("beta1"),
        F.expr(f"round({_NE_DET2} / {_NE_DET}, 6)").alias("beta2"),
    )


register_sql(
    "mutual_information_lang_source",
    """Mutual information between language and source (nats), plus the
    joint entropy: the dependence screen run before stratified splits --
    high MI means language mix is NOT exchangeable across sources, so
    per-source sampling reweights must condition on language.

    Scale: one grouped count over the corpus, then all probability math
    runs on the |langs| x |sources| contingency sliver with broadcast
    marginals.  Exact integer counts in, so only the final log/ratio is
    float -- deterministic after rounding.
    """,
    """
    WITH joint AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT SUM(n) AS t FROM joint),
    ml AS (SELECT lang, SUM(n) AS nl FROM joint GROUP BY lang),
    ms AS (SELECT source, SUM(n) AS ns FROM joint GROUP BY source)
    SELECT CAST(tot.t AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((joint.n * 1.0 / tot.t)
                     * ln((joint.n * 1.0 * tot.t) / (ml.nl * 1.0 * ms.ns))),
                 6) AS mi_nats,
           ROUND(-SUM(CASE WHEN joint.n > 0 THEN
                     (joint.n * 1.0 / tot.t) * ln(joint.n * 1.0 / tot.t)
                     END), 6) AS h_joint
    FROM joint
    JOIN ml USING (lang)
    JOIN ms USING (source)
    CROSS JOIN tot
    GROUP BY tot.t
    """,
)
