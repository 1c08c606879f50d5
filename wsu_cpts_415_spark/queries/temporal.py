"""Temporal / versioned-data operators: point-in-time (as-of) joins against
a derived dimension history, snapshot diffing, and a watermark-lateness
audit with a scalable distributed prefix-scan.

These are the feature-store / lakehouse staples the reference's batch
scripts never needed but any 100 TB training-data platform does:

* **Point-in-time join** — join facts to the dimension version that was
  valid AT the fact's timestamp (no leakage from the future).  The naive
  formulation is a range join (fact.ts BETWEEN valid_from AND valid_to)
  which Spark executes as a per-key loop; the scalable formulation used
  here is the union-merge: tag history rows and fact rows, sort once per
  entity on (ts, seq), and carry the last-seen version forward with a
  running ``last_value(ignorenulls)`` window.  One shuffle on the entity
  key, no interval explosion, no theta join.
* **Snapshot diff** — the added/removed/changed/unchanged audit between
  two table versions (the check run after every backfill or migration).
  Full-outer join on the key with a row-fingerprint comparison; at scale
  both sides are bucketed on the key so the join is zero-Exchange, and
  the fingerprint (a single hash over the value columns) is computed at
  the scan, so the shuffle carries 2 columns per row regardless of table
  width.
* **Late-event audit** — how late events arrive relative to the maximum
  event-time already seen at their arrival position (what a streaming
  watermark would have seen).  Running-max over arrival order is a
  prefix scan: computed distributedly by chunking the arrival sequence,
  aggregating one max per chunk (tiny), prefix-maxing the chunk table on
  the driver-side-small aggregate, and broadcasting it back -- no global
  single-partition window over the raw stream.

``snapshot_diff_audit`` and ``journey_trigrams`` are written once, as
their oracle SQL: Spark runs that text verbatim over the fixture views
(``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.queries.events import SESSION_GAP_MIN
from wsu_cpts_415_spark.registry import register, register_sql

TIER_UNIT = 50.0  # cumulative-value width of one loyalty tier
TIER_CAP = 4  # tiers saturate here
LATE_CHUNK = 512  # arrival-sequence chunk size for the distributed scan
LATE_THRESHOLD_SEC = 600  # "late" = arrived >10 min behind the watermark


@register(
    "pit_join_user_tier",
    oracle=f"""
    WITH ordered AS (
        SELECT event_id, user_id, ts, event_type,
               SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM events
    )
    SELECT event_id, user_id,
           CAST(LEAST({TIER_CAP}, FLOOR(cum / {TIER_UNIT})) AS INT) AS tier
    FROM ordered
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def pit_join_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase is joined to the loyalty tier
    the user held AT that purchase (tier = capped bucket of cumulative
    event value including the purchase itself -- no future leakage).

    The Spark side runs the real PIT machinery: derive the tier-change
    history (islands-compressed change points), union change points with
    purchase facts, and carry the tier forward per user with one ordered
    window pass -- the merge-join formulation that scales to dimension
    histories that are NOT derived from the fact stream.  The oracle
    exploits a fixture property the operator must not assume (facts are
    a subset of the history's driving events), which keeps the two
    formulations independent.

    Scale: one shuffle on user_id shared by history build and merge; the
    change-point table is a sliver of the stream (only tier transitions
    survive); the final window sorts history+facts per user once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tiers = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.least(
            F.lit(TIER_CAP),
            F.floor(F.sum("value").over(w) / TIER_UNIT),
        )
        .cast("int")
        .alias("tier"),
    )
    # Islands-compress: keep only rows where the tier changed (or the
    # user's first event) -- the dimension-history change points.
    changes = (
        tiers.withColumn("prev_tier", F.lag("tier").over(w))
        .filter(F.col("prev_tier").isNull() | (F.col("prev_tier") != F.col("tier")))
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("seq"),
            "tier",
            F.lit(0).alias("side"),  # history sorts before a fact at the same key
        )
    )
    facts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("seq"),
            F.lit(None).cast("int").alias("tier"),
            F.lit(1).alias("side"),
        )
    )
    # Union-merge as-of: last non-null tier at or before (ts, seq, side).
    merged = changes.unionByName(facts)
    wm = (
        Window.partitionBy("user_id")
        .orderBy("ts", "seq", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("tier_asof", F.last("tier", ignorenulls=True).over(wm))
        .filter(F.col("side") == 1)
        .select(
            F.col("seq").alias("event_id"),
            "user_id",
            F.col("tier_asof").alias("tier"),
        )
        .orderBy("event_id")
    )


# Snapshot simulation: v1 drops every 97th order, v2 drops every 101st
# and bumps the price of every 89th.  Keys only in v2 are "added", only
# in v1 "removed", shared-but-different fingerprints "changed".
_DIFF_V1 = "o_orderkey % 97 <> 0"
_DIFF_V2 = "o_orderkey % 101 <> 0"
_DIFF_V2_BUMP = "o_orderkey % 89 = 0"


register_sql(
    "snapshot_diff_audit",
    """Snapshot diff between two simulated versions of ``orders``:
    added / removed / changed / unchanged row counts by full-outer join
    on the key and a row fingerprint over the value columns.

    Scale: the fingerprint collapses arbitrary row width to one hash
    column BEFORE the shuffle, so the join moves (key, fp) pairs only;
    with both versions bucketed on the key (io/bucketing.py) the join is
    zero-Exchange and the diff streams partition-by-partition.
    """,
    f"""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               md5(CONCAT_WS('|', o_custkey, o_orderstatus,
                             ROUND(o_totalprice, 2), o_orderpriority)) AS fp
        FROM orders WHERE {_DIFF_V1}
    ),
    v2 AS (
        SELECT o_orderkey AS k,
               md5(CONCAT_WS('|', o_custkey, o_orderstatus,
                             ROUND(CASE WHEN {_DIFF_V2_BUMP}
                                        THEN o_totalprice * 1.1
                                        ELSE o_totalprice END, 2),
                             o_orderpriority)) AS fp
        FROM orders WHERE {_DIFF_V2}
    )
    SELECT CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                WHEN v1.fp <> v2.fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    GROUP BY status
    ORDER BY status
    """,
)


@register(
    "late_event_audit",
    oracle=f"""
    WITH arr AS (
        SELECT event_type, ts,
               MAX(ts) OVER (ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS watermark
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN watermark - ts >
                       INTERVAL {LATE_THRESHOLD_SEC} SECOND THEN 1 END)
                AS BIGINT) AS n_late,
           ROUND(AVG(GREATEST(epoch_us(watermark) - epoch_us(ts), 0))
                 / 1e6, 2) AS avg_lateness_sec
    FROM arr
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit: for every event, how far behind the
    running maximum event-time (over arrival order = event_id) it
    arrived; rolled up per event type with a >{LATE_THRESHOLD_SEC}s
    late-count -- the batch estimate of what a streaming watermark of
    that delay would have dropped.

    The running max is a prefix scan computed WITHOUT a global
    single-partition window: arrival order is chunked ({LATE_CHUNK}
    events per chunk), each chunk's max aggregates in one map-side pass,
    the chunk-level prefix max runs on the |chunks|-row table (the only
    ordered window, over a bounded aggregate), and a broadcast join
    hands each event its predecessor-chunk watermark; the within-chunk
    running max is a partitioned window keyed by chunk.  Net: one tiny
    window + one partitioned window, no unbounded sort.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", (F.col("event_id") / LATE_CHUNK).cast(
            "bigint"
        ).alias("chunk")
    )
    chunk_max = ev.groupBy("chunk").agg(F.max("ts").alias("cmax"))
    wprefix = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior = chunk_max.select(
        "chunk", F.max("cmax").over(wprefix).alias("carry_in")
    )
    wchunk = (
        Window.partitionBy("chunk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the chunk table is |events|/LATE_CHUNK rows -- it shrinks 512x but
    # still GROWS with the data, so the hint is row+byte gated (above
    # the gate: shuffle join on chunk, already the events' sort key;
    # at 100 TB the chunk size knob scales up to keep the table small)
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    scanned = (
        ev.join(
            maybe_broadcast(
                prior,
                DOC_SIDE_BCAST_ROWS,
                persist_input=True,
                stats_key=("late_event_prior", sf_dir),
            ),
            "chunk",
        )
        .withColumn(
            "watermark",
            F.greatest(
                F.coalesce(
                    F.max("ts").over(wchunk),
                    F.lit("1970-01-01").cast("timestamp"),
                ),
                F.coalesce("carry_in", F.lit("1970-01-01").cast("timestamp")),
            ),
        )
        .withColumn(
            "watermark",
            # first event overall has no predecessor: null watermark
            F.when(
                F.col("carry_in").isNull() & F.max("ts").over(wchunk).isNull(),
                F.lit(None).cast("timestamp"),
            ).otherwise(F.col("watermark")),
        )
    )
    lateness_us = F.unix_micros("watermark") - F.unix_micros("ts")
    return (
        scanned.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(
                F.when(lateness_us > LATE_THRESHOLD_SEC * 1_000_000, F.lit(1))
            )
            .cast("bigint")
            .alias("n_late"),
            F.round(
                F.avg(F.greatest(lateness_us, F.lit(0))) / 1e6, 2
            ).alias("avg_lateness_sec"),
        )
        .orderBy("event_type")
    )


register_sql(
    "journey_trigrams",
    f"""Top-10 three-step user journeys (event-type trigrams) WITHIN a
    session (gap-based, {SESSION_GAP_MIN} min): the path-mining rollup
    behind "what do users do right before purchasing" analyses --
    sessionization composed with sequence extraction.

    Scale: one window sort per user partition produces session ids AND
    both lookaheads (shared sort, Catalyst collapses the window group);
    the trigram count is a map-side-combinable aggregate over a
    |types|^3-bounded key space, then TakeOrderedAndProject for the
    top-10.  Nothing shuffles twice.
    """,
    f"""
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sess_no
        FROM gaps
    ),
    tri AS (
        SELECT event_type || ' > '
               || LEAD(event_type, 1) OVER w2 || ' > '
               || LEAD(event_type, 2) OVER w2 AS journey,
               LEAD(sess_no, 2) OVER w2 = sess_no AS same_sess
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id, sess_no ORDER BY ts, event_id)
    )
    SELECT journey, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri WHERE journey IS NOT NULL AND same_sess
    GROUP BY journey
    ORDER BY n DESC, journey
    LIMIT 10
    """,
)


COVER_SEC = 300  # each event covers [ts, ts + 5 min)


@register(
    "interval_coverage_per_user",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL {COVER_SEC} SECOND AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS isl
        FROM flagged
    ),
    merged AS (
        SELECT user_id, isl,
               epoch_us(MAX(e)) - epoch_us(MIN(s)) AS span_us
        FROM islands GROUP BY user_id, isl
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(span_us) // 1000000 AS BIGINT) AS covered_sec
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def interval_coverage_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event covers a {COVER_SEC}s span;
    overlapping spans merge (gaps-and-islands over a running max of the
    interval END -- plain islands on start times miss containment), and
    each user reports merged-island count and total covered seconds.
    The span-dedup primitive behind "active time" metrics and overlap-
    free annotation budgets.

    Scale: one window sort per user partition (running max + cumsum
    share it), then two key-bounded aggregates.  Identical shape to the
    sessionizer -- interval union IS sessionization with end-extension.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.unix_micros("ts") + COVER_SEC * 1_000_000).alias("e_us"),
    ).withColumn("s_us", F.unix_micros("s"))
    w = Window.partitionBy("user_id").orderBy("s_us", "e_us")
    prev_max = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "is_new",
        F.when(prev_max.isNull() | (F.col("s_us") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "isl",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "isl").agg(
        (F.max("e_us") - F.min("s_us")).alias("span_us")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_islands"),
            (F.sum("span_us") / 1_000_000)
            .cast("bigint")
            .alias("covered_sec"),
        )
        .orderBy("user_id")
    )


@register(
    "linear_interpolation_fill",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               ROUND(SUM(value), 4) AS x,
               day(date_trunc('day', ts)) % 5 <> 0 AS present
        FROM events GROUP BY 1, 2, 4
    ),
    marked AS (
        SELECT event_type, d, present,
               CASE WHEN present THEN x END AS xk
        FROM daily
    ),
    nb AS (
        SELECT event_type, d, present, xk,
               LAST_VALUE(xk IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pv,
               LAST_VALUE(CASE WHEN xk IS NOT NULL THEN d END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pd,
               FIRST_VALUE(xk IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nv,
               FIRST_VALUE(CASE WHEN xk IS NOT NULL THEN d END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nd
        FROM marked
    )
    SELECT event_type, d AS day,
           ROUND(CASE WHEN present THEN xk
                      ELSE pv + (nv - pv)
                           * date_diff('day', pd, d)
                           / date_diff('day', pd, nd) END, 4) AS value,
           NOT present AS is_interpolated
    FROM nb
    WHERE present OR (pv IS NOT NULL AND nv IS NOT NULL)
    ORDER BY event_type, day
    """,
)
def linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair: daily totals with every 5th calendar day
    masked out (simulated sensor dropout), missing days rebuilt by
    linear interpolation between the nearest present neighbors.  The
    resampling primitive under every continuous-time feature: forward
    value + backward value + day-fraction blend; edge gaps (no neighbor
    on one side) are left out rather than extrapolated.

    Scale: the raw stream collapses to |types| x |days| rows first; all
    four neighbor lookups (prev/next value and day) share ONE window
    sort per type over that bounded daily table.  No self-joins.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.round(F.sum("value"), 4).alias("x")).withColumn(
        "present", F.dayofmonth("d") % 5 != 0
    )
    marked = daily.withColumn("xk", F.when(F.col("present"), F.col("x")))
    wp = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    kd = F.when(F.col("xk").isNotNull(), F.col("d"))
    nb = marked.select(
        "event_type",
        "d",
        "present",
        "xk",
        F.last("xk", ignorenulls=True).over(wp).alias("pv"),
        F.last(kd, ignorenulls=True).over(wp).alias("pd"),
        F.first("xk", ignorenulls=True).over(wn).alias("nv"),
        F.first(kd, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("d"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    return (
        nb.filter(
            F.col("present")
            | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
        )
        .select(
            "event_type",
            F.col("d").alias("day"),
            F.round(
                F.when(F.col("present"), F.col("xk")).otherwise(interp), 4
            ).alias("value"),
            (~F.col("present")).alias("is_interpolated"),
        )
        .orderBy("event_type", "day")
    )
