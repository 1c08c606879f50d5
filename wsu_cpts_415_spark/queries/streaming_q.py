"""Streaming registry queries: the watermarked window aggregates executed
through a REAL Structured Streaming run (readStream -> writeStream with
trigger(availableNow) -> memory sink), oracle-checked against the same
SQL as their batch twins -- replay of a bounded source is deterministic,
so stream output must hash-match the batch answer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wsu_cpts_415_spark.registry import register
from wsu_cpts_415_spark.streaming.jobs import (
    read_events_stream,
    run_available_now,
    session_aggregates,
    tumbling_counts,
)

# Replay slicing (r13, guide §5 state cost): every query in this module
# reads its backlog 64 files per trigger -- extending the CEP/dedup
# precedent to the whole family -- because each one's OUTPUT is
# batch-slicing invariant, so coarser replay slices change state-commit
# COUNT, never results:
#   - the complete-mode window aggregates (tumbling, sliding, static
#     enrich, seasonal, session windows) and the CMS sketch merge fold
#     commutatively; the final complete output is the full-backlog
#     aggregate however the source is sliced;
#   - distinct_users_daily counts dropDuplicates survivors per day --
#     which PHYSICAL row survives is arrival-dependent, the count is not;
#   - the inner stream-stream join emits every qualifying pair as both
#     sides arrive; one batch sees all pairs the batch self-join (the
#     oracle) defines, and fewer batches mean fewer watermark advances,
#     i.e. strictly LESS chance of evicting a signup before its matching
#     purchase arrives at long replay lengths.
# Per-batch cost is a fixed state-store commit across every store
# instance plus an offset/commit-log round (measured per phase in
# round 13), so an N-file backlog at 1 file per
# trigger pays N of them where ceil(N/64) suffice -- the x10 fixture's
# streaming family was ~8x its sf0.1 cost almost entirely from batch
# count.  At 100 TB the same knob is sized by micro-batch latency
# targets, not fixed at 1.


@register(
    "streaming_tumbling_counts",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day tumbling window counts computed by an actual streaming
    query (watermark + window state, availableNow replay); the oracle is
    the plain batch SQL -- bounded replay must agree exactly."""
    out = run_available_now(
        tumbling_counts(read_events_stream(spark, sf_dir, files_per_trigger=64)),
        "q_streaming_tumbling",
    )
    return out.orderBy("day", "event_type")


@register(
    "streaming_session_aggs",
    oracle="""
    WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def streaming_session_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap session windows computed by a streaming
    query with native session_window state merging; the oracle derives the
    identical sessions relationally (lag -> gap flags -> running session
    number), with session_end = last event + gap per Spark's
    session_window semantics."""
    out = run_available_now(
        session_aggregates(read_events_stream(spark, sf_dir, files_per_trigger=64)),
        "q_streaming_sessions",
    )
    return out.orderBy("user_id", "session_start")


@register(
    "streaming_distinct_users_daily",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def streaming_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup: dropDuplicates on (user_id, day) keeps
    the first event per key (state-store backed), then a windowed count
    per day -- the streaming form of COUNT(DISTINCT user_id).  Which row
    survives is arrival-dependent; the per-day distinct COUNT is not,
    which is what the oracle pins."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir, files_per_trigger=64).select(
        "user_id", F.to_date("ts").alias("day"), "ts"
    )
    firsts = ev.dropDuplicates(["user_id", "day"])
    out = run_available_now(
        firsts.groupBy("day").agg(F.count("*").alias("n_users")),
        "q_streaming_distinct_users",
    )
    return out.orderBy("day")


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS DATE) AS day,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a broadcast
    customer dimension BEFORE the windowed aggregate -- the canonical
    streaming-ETL shape (dimension lookup per micro-batch, no stream
    state for the join side; only the window aggregate keeps state).
    The static side is re-planned each micro-batch, so a slowly-changing
    dimension would be picked up on refresh."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.streaming.jobs import WATERMARK

    ev = read_events_stream(spark, sf_dir, files_per_trigger=64)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = (
        joined.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.to_date("w.start").alias("day"),
            "segment",
            "n_events",
            "sum_value",
        )
    )
    out = run_available_now(agg, "q_streaming_static_enrich")
    return out.orderBy("day", "segment")


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_event,
           p.event_id AS purchase_event,
           CAST(s.ts AS TIMESTAMP) AS signup_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           ROUND(p.value, 4) AS purchase_value
    FROM events s
    JOIN events p
      ON s.user_id = p.user_id
     AND p.ts >= s.ts
     AND p.ts <= s.ts + INTERVAL 7 DAY
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    ORDER BY s.user_id, signup_ts, purchase_ts, signup_event, purchase_event
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: signups joined to purchases by the same
    user within the following 7 days, both sides watermarked so the join
    state is bounded -- a signup can be evicted once the purchase-side
    watermark passes signup_ts + 7 days.  The equi-key (user_id) routes
    both streams to the same state partition; the time bound is the
    state-cleanup contract, not just a filter.  Bounded replay must
    reproduce the batch self-join exactly (the oracle)."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir, files_per_trigger=64)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 day")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")),
    ).select(
        "user_id",
        "signup_event",
        "purchase_event",
        "signup_ts",
        "purchase_ts",
        F.round("value", 4).alias("purchase_value"),
    )
    out = run_available_now(
        joined, "q_streaming_ss_join", output_mode="append"
    )
    return out.orderBy(
        "user_id", "signup_ts", "purchase_ts", "signup_event", "purchase_event"
    )


@register(
    "streaming_sliding_counts",
    oracle="""
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   - CAST(t.k AS INTEGER) AS window_start,
               event_type
        FROM events, UNNEST(generate_series(0, 2)) AS t(k)
    )
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-day windows sliding daily, per event type, executed as a real
    streaming query: each event lands in exactly three overlapping
    windows, so streaming state holds three live windows per type until
    the watermark closes them.  The oracle materializes the same
    window membership relationally (each event replicated to offsets
    0..2 from its day).  Epoch-aligned daily slides mean both engines
    agree on window boundaries exactly."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.streaming.jobs import WATERMARK

    ev = read_events_stream(spark, sf_dir, files_per_trigger=64)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "3 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.to_date("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    out = run_available_now(agg, "q_streaming_sliding")
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_seasonal_alerts",
    oracle="""
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
    spread AS (SELECT stddev_pop(r) AS s FROM resid)
    SELECT d, n,
           ROUND(dow_mean, 4) AS expected_n,
           ROUND(r / s, 4) AS z
    FROM resid, spread
    WHERE ABS(r / s) > 2
    ORDER BY d
    """,
)
def streaming_seasonal_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static anomaly alerting: the seasonal model (weekday means
    + residual spread) is a STATIC broadcast table; the stream's daily
    windows join against it and only |z| > 2 days surface.  The batch
    seasonal query (queries/stats_audits.py) is the oracle -- bounded
    replay must reproduce the batch alert list exactly.

    Production shape: the model tables refresh on a schedule; alert
    state is bounded by the daily-window watermark, and the join adds
    no streaming state at all (static side broadcast)."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.streaming.jobs import seasonal_alerts

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    dowed = daily.withColumn(
        "dow", (F.datediff("d", F.lit("1970-01-01")) % 7).cast("bigint")
    )
    expected = dowed.groupBy("dow").agg(F.avg("n").alias("dow_mean"))
    spread = (
        dowed.join(expected, "dow")
        .withColumn("r", F.col("n") - F.col("dow_mean"))
        .agg(F.stddev_pop("r").alias("s"))
    )
    out = run_available_now(
        seasonal_alerts(read_events_stream(spark, sf_dir, files_per_trigger=64), expected, spread),
        "q_streaming_seasonal",
    )
    return out.orderBy("d")


@register(
    "streaming_cep_error_after_purchase",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_purchase
        FROM events
    )
    SELECT user_id,
           date_trunc('microseconds', ts) AS error_ts,
           date_trunc('microseconds', last_purchase) AS purchase_ts,
           ROUND(EXTRACT(epoch FROM ts - last_purchase), 4) AS gap_seconds
    FROM ordered
    WHERE event_type = 'error'
      AND last_purchase IS NOT NULL
      AND ts - last_purchase <= INTERVAL 10 MINUTE
    ORDER BY user_id, error_ts
    """,
)
def streaming_cep_error_after_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Complex event processing through a REAL streaming run: per user,
    every 'error' within 10 minutes of the latest 'purchase', detected
    by an applyInPandasWithState kernel holding ONE scalar of state per
    user.  The oracle is the batch running-max formulation -- bounded
    replay must reproduce the alert list exactly.  This is the CEP
    surface (match-recognize-style rules) the engine's stateful
    operator carries; swap the kernel body for any other rule.

    Scale: state is O(users) scalars; the kernel sees Arrow batches,
    never Python rows; alerts stream out in update mode.  Replay reads
    64 files per trigger (lesson #3 extended, SCALE.md round 7): the
    kernel calls ``state.update`` for every user present in a batch,
    and nearly every user appears in every fixture file, so
    one-file-at-a-time replay rewrites O(users) state rows per batch --
    total state writes = batches x users, SUPER-linear in replay length
    (measured 67.8x wall at x10 before this change; after it, base
    2.14 s -> x10 7.88 s = 3.7x for 10x data).
    Larger slices are also strictly safer for this rule: the kernel
    sorts each batch by event time, so fewer/bigger batches bring
    arrival order closer to the global event-time order the oracle
    assumes."""
    from wsu_cpts_415_spark.streaming.jobs import cep_error_after_purchase

    out = run_available_now(
        cep_error_after_purchase(
            read_events_stream(spark, sf_dir, files_per_trigger=64)
        ),
        "q_streaming_cep",
        output_mode="update",
    )
    return out.orderBy("user_id", "error_ts")


from wsu_cpts_415_spark.queries.corpus_audit import CMS_PROBES as _CMS_PROBES


@register(
    "streaming_cms_frequency_check",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS within_bound
    FROM events
    WHERE user_id < {_CMS_PROBES}
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_cms_frequency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch streaming state: a Count-Min sketch built BY THE
    STREAM (count_min_sketch as a streaming aggregate, complete mode --
    each micro-batch's partial sketch merges into the state by counter
    addition), then probed exactly like the batch twin
    (corpus_audit.cms_frequency_check).  Counter addition is commutative
    and associative, so the final sketch is bit-identical however the
    replay slices the source into micro-batches -- the self-validating
    bound check (exact <= est <= exact + eps*N) must hold and the oracle
    proves the exact side.

    The pattern this pins for 100 TB streams: sketch aggregates (CMS,
    HLL, Bloom) keep CONSTANT state in a streaming query where an exact
    per-key groupBy would grow state with the key space."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.queries.corpus_audit import (
        CMS_CONF,
        CMS_EPS,
        CMS_PROBES,
    )

    stream = read_events_stream(spark, sf_dir, files_per_trigger=64)
    sketched = stream.groupBy().agg(
        F.count("*").alias("n_total"),
        F.expr(
            f"count_min_sketch(user_id, cast({CMS_EPS} as double),"
            f" cast({CMS_CONF} as double), 42)"
        ).alias("sketch"),
    )
    agg = run_available_now(
        sketched, "q_streaming_cms", output_mode="complete"
    ).head()
    n_total, raw = agg["n_total"], bytes(agg["sketch"])
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < CMS_PROBES)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy("user_id")
        .collect()
    )
    bound = CMS_EPS * n_total
    rows = [
        (
            r["user_id"],
            r["exact_n"],
            bool(
                r["exact_n"]
                <= cms.estimateCount(jvm.java.lang.Long.valueOf(int(r["user_id"])))
                <= r["exact_n"] + bound
            ),
        )
        for r in exact
    ]
    return spark.createDataFrame(
        rows, "user_id long, exact_n long, within_bound boolean"
    ).orderBy("user_id")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    ORDER BY event_id
    """,
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark: the
    source is doubled in-stream (explode over a 2-element array, so
    every event arrives exactly twice in the same micro-batch) and the
    operator must restore uniqueness on event_id.  Unlike plain
    dropDuplicates, the within-watermark variant EVICTS a key's state
    once the watermark passes its event time -- bounded state on an
    unbounded stream, which is the only dedup you can afford at 100 TB
    (the standing-store ingest gate in streaming/ingest_dedup.py is the
    cross-run complement; this is the in-flight form).  Append mode:
    rows emit as they first arrive, no window to close, so availableNow
    replay emits the full distinct set."""
    from pyspark.sql import functions as F

    # batch-slicing invariant (each duplicate pair co-arrives), so read
    # many files per trigger: one state commit instead of one per file
    stream = read_events_stream(spark, sf_dir, files_per_trigger=64)
    doubled = stream.withColumn(
        "_copy", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("_copy")
    deduped = (
        doubled.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    out = run_available_now(
        deduped, "q_streaming_dedup_wm", output_mode="append"
    )
    return out.orderBy("event_id")
