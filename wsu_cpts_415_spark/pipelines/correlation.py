"""Pearson correlation matrix over the numeric video fields (reference
big_data/scripts/analysis/correlation_analysis.py:45-110).

The reference assembles a VectorUDT column with VectorAssembler and calls
``ml.stat.Correlation.corr`` (one extra ML-format conversion pass plus a
driver-side 8x8 matrix).  Spark-first, the same matrix is 28 pairwise
Pearson aggregate expressions in ONE hash-aggregate pass -- a single
scan, map-side partials, one row out; no vector conversion, no ML jar.
Output is long-form ``(col_a, col_b, corr)`` for the upper triangle
(i < j; the diagonal is identically 1), which is stable to hash-compare
and trivially pivotable back to a matrix.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# correlation_analysis.py:90-98 column set (order preserved)
NUMERIC_COLS = [
    "length_seconds",
    "num_comments",
    "num_ratings",
    "upload_day",
    "upload_month",
    "upload_year",
    "video_rating",
    "views",
]


def numeric_projection(videos: DataFrame) -> DataFrame:
    """Flatten nested numerics + date parts, cast to double, drop nulls
    (correlation_analysis.py:52-64, 84-99)."""
    df = videos.select(
        F.col("video_attri.length").alias("length_seconds"),
        F.col("video_attri.rating").alias("video_rating"),
        F.col("video_engagement.views").alias("views"),
        F.col("video_engagement.num_ratings").alias("num_ratings"),
        F.col("video_engagement.num_comments").alias("num_comments"),
        F.col("video_desc.age_days").alias("age_days"),
        F.dayofmonth("upload_date").alias("upload_day"),
        F.month("upload_date").alias("upload_month"),
        F.year("upload_date").alias("upload_year"),
    )
    return df.select(*[F.col(c).cast("double").alias(c) for c in NUMERIC_COLS]).na.drop()


NEAR_ZERO = 0.1  # |corr| below this is "Near-Zero" (M4; the reference's
# README.md:25 describes Positive/Negative/Near-Zero buckets but ships no
# implementation -- threshold is ours, documented)


def correlation_matrix(videos: DataFrame, decimals: int = 5) -> DataFrame:
    """Upper-triangle pairwise Pearson correlations, one aggregate pass,
    with the sign-bucket classification (M4).

    Each pair is ``covar_samp(a, b) / (stddev_samp(a) * stddev_samp(b))``
    under ``try_divide``; the 28 pairs share the scan and the
    (single-row) shuffle, and the stack() unpivot to long form costs
    next to nothing.  At 100 TB this is the minimal plan: you cannot
    compute a correlation matrix in less than one pass over the data.

    A constant column (a single-month crawl makes ``upload_month`` and
    ``upload_year`` constant) has zero variance, so its pairs are NULL
    (classified "Near-Zero") -- where ``F.corr`` raises DIVIDE_BY_ZERO
    under ANSI mode, the Spark 4 default."""
    num = numeric_projection(videos)
    pairs = list(combinations(NUMERIC_COLS, 2))
    agg_row = num.agg(
        *[
            F.try_divide(
                F.covar_samp(a, b), F.stddev_samp(a) * F.stddev_samp(b)
            ).alias(f"c_{a}__{b}")
            for a, b in pairs
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', round(c_{a}__{b}, {decimals})" for a, b in pairs
    )
    long_form = agg_row.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) as (col_a, col_b, corr)"
        )
    )
    return long_form.withColumn(
        "classification",
        F.when(F.col("corr") > NEAR_ZERO, "Positive")
        .when(F.col("corr") < -NEAR_ZERO, "Negative")
        .otherwise("Near-Zero"),
    )
