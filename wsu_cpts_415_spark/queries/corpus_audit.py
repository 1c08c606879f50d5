"""Corpus audit & sampling operators: key-skew heavy hitters, temperature
mixture weights, train/eval near-dup leakage, unigram LM surprisal
scoring, and deterministic per-group sampling.

These are the inspection passes a training-data build runs before
committing a mixture: which keys would skew the shuffle, what a
temperature-adjusted source mixture actually weighs, whether the held-out
split leaks near-duplicates of training documents, which documents an
n-gram language model finds anomalous, and a reproducible per-group
sample for eyeballing.

Scale posture: every operator here is aggregates over bounded key spaces
(users, sources, splits, vocabulary) or reuses the already-bucketed LSH
pair table -- nothing is quadratic in the corpus and the only windows run
per-group after a group-limit pushdown or over group-count-bounded rows.

``heavy_hitters_skew``, ``temperature_mix_weights`` and
``lang_drift_chisq`` are written once, as their oracle SQL: Spark runs
that text verbatim over the fixture views (``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.queries.corpus_ops import (
    _DUCK_BUCKET,
    _SPARK_BUCKET,
    TRAIN_PCT,
    VAL_PCT,
)
from wsu_cpts_415_spark.queries.graph_ops import (
    NEARDUP_DEN,
    NEARDUP_NUM,
    NEARDUP_THRESHOLD,
)
from wsu_cpts_415_spark.queries.similarity import (
    LSH_PAIRS_DUCK_CTES,
    lsh_verified_pairs,
)
from wsu_cpts_415_spark.registry import register, register_sql

TOP_HITTERS = 20
MIX_ALPHA = 0.7  # temperature exponent (Conneau & Lample 2019 use 0.7)
MIX_BUDGET = 1000  # documents drawn from the adjusted mixture
SAMPLE_K = 5  # docs kept per language by the hash sampler


register_sql(
    "heavy_hitters_skew",
    f"""Top-{TOP_HITTERS} heaviest event keys with their share of all rows
    and their ratio to the mean per-key population -- the pre-shuffle
    audit that decides whether a join/groupBy on this key needs salting
    (ops/skew.py) or AQE skew handling.

    One partial-combining aggregate over the key space, a one-row global
    broadcast back onto it, TakeOrderedAndProject for the top-k: no
    full sort, nothing driver-side but the report.""",
    f"""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS total,
               CAST(AVG(n) AS DOUBLE) AS mean_n
        FROM per_user
    )
    SELECT user_id, n,
           ROUND(n / total * 100, 6) AS share_pct,
           ROUND(n / mean_n, 6) AS skew_ratio
    FROM per_user CROSS JOIN tot
    ORDER BY n DESC, user_id
    LIMIT {TOP_HITTERS}
    """,
)


register_sql(
    "temperature_mix_weights",
    f"""Temperature-adjusted source mixture: weight each source by
    n^{MIX_ALPHA} (alpha < 1 flattens the head, upweights the tail --
    the multilingual-sampling scheme of Conneau & Lample 2019), report
    the normalized weight, the expected draw at a {MIX_BUDGET}-doc
    budget, and the up/down-weighting vs the natural frequency.

    Complements ``lang_mix_rebalance`` (queries/mixing.py), which hits
    externally-specified targets; temperature weighting *derives* the
    targets from the observed counts.  Cost: one aggregate over the
    source key space and arithmetic on the resulting handful of rows.""",
    f"""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs,
               POWER(n_docs, {MIX_ALPHA}) AS raw_w
        FROM per_src
    ),
    tot AS (
        SELECT SUM(raw_w) AS z, CAST(SUM(n_docs) AS DOUBLE) AS n_total FROM w
    )
    SELECT source, n_docs,
           ROUND(raw_w / z, 6) AS mix_weight,
           ROUND(raw_w / z * {MIX_BUDGET}, 4) AS expected_docs,
           ROUND((raw_w / z) / (n_docs / n_total), 6) AS vs_natural
    FROM w CROSS JOIN tot
    ORDER BY source
    """,
)


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH {LSH_PAIRS_DUCK_CTES},
    sp AS (
        SELECT doc_id,
               CASE WHEN {_DUCK_BUCKET.format(m=100)} < {TRAIN_PCT}
                    THEN 'train'
                    WHEN {_DUCK_BUCKET.format(m=100)} < {TRAIN_PCT + VAL_PCT}
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    leaks AS (
        SELECT LEAST(sa.split, sb.split) AS split_lo,
               GREATEST(sa.split, sb.split) AS split_hi,
               p.jaccard
        FROM lsh_pairs p
        JOIN sp sa ON sa.doc_id = p.doc_a
        JOIN sp sb ON sb.doc_id = p.doc_b
        WHERE sa.split <> sb.split AND p.jaccard >= {NEARDUP_THRESHOLD}
    )
    SELECT split_lo, split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MAX(jaccard), 6) AS max_jaccard,
           ROUND(AVG(jaccard), 6) AS avg_jaccard
    FROM leaks
    GROUP BY split_lo, split_hi
    ORDER BY split_lo, split_hi
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination through NEAR-duplicates: near-dup pairs
    (exact Jaccard >= {NEARDUP_THRESHOLD} on LSH candidates) whose two
    documents land in different hash-bucket splits, rolled up per split
    pair.  Exact-dup leakage is the easy case; this catches the pairs an
    exact fingerprint join misses, which is how benchmark contamination
    actually survives dedup (composition of ``train_val_test_split`` +
    ``minhash_lsh_pairs``).

    Reuses the session-staged verified pair table (computed once per
    run); split assignment is row-local hash math joined onto pair
    endpoints -- at 100 TB the pair table is the sliver, so both joins
    broadcast the split map against it."""
    pairs = lsh_verified_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= NEARDUP_THRESHOLD
    )
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_BUCKET.format(m=100))
    sp = docs.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leaks = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            "jaccard",
        )
    )
    return (
        leaks.groupBy("split_lo", "split_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("split_lo", "split_hi")
    )


@register(
    "unigram_logprob_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM vocab)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(v.n / total)), 4) AS avg_surprisal,
           ROUND(MAX(-ln(v.n / total)), 4) AS max_surprisal
    FROM tok t JOIN vocab v USING (tok) CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: corpus-wide token probabilities,
    then each document's mean and max surprisal (-ln p).  The cheapest
    member of the model-based quality-filter family (a perplexity filter
    with a unigram LM) -- documents full of rare tokens score high, rote
    repetition scores low; pairs with the heuristic ``quality_score``.

    Two passes over the token stream: one to build the vocabulary, one
    to score.  The vocabulary is NOT a bounded aggregate -- Heaps' law
    puts distinct tokens near 10^9 at 100 TB -- so the scoring join goes
    through the row- AND byte-gated ``maybe_broadcast``: below the gate
    it broadcasts back onto the token explode (corpus never shuffles);
    above it the join falls back to a shuffle on ``tok``, which a real
    deployment co-locates by bucketing both sides on the token.  Mean
    surprisal is rounded after aggregation; summation-order jitter sits
    ~1e-12 below the 1e-4 grain."""
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast, staged
    from wsu_cpts_415_spark.queries.ssjoin import VOCAB_BCAST_ROWS

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # staged so the gate's one stats action rides the persisted frame
    # instead of re-running the explode+aggregate
    vocab = staged(
        spark,
        "unigram_vocab",
        sf_dir,
        lambda: tok.groupBy("tok").agg(F.count("*").alias("n")),
    )
    tot = vocab.agg(F.sum("n").cast("double").alias("total"))
    surprisal = -F.log(F.col("n") / F.col("total"))
    return (
        tok.join(
            maybe_broadcast(
                vocab, VOCAB_BCAST_ROWS, stats_key=("unigram_vocab", sf_dir)
            ),
            "tok",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(surprisal), 4).alias("avg_surprisal"),
            F.round(F.max(surprisal), 4).alias("max_surprisal"),
        )
        .orderBy("doc_id")
    )


CMS_EPS = 0.001  # over-estimate bound: est <= exact + eps * N
CMS_CONF = 0.99
CMS_PROBES = 10  # user ids 0..9


@register(
    "cms_frequency_check",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS within_bound
    FROM events
    WHERE user_id < {CMS_PROBES}
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def cms_frequency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch point-frequency estimates, audited against exact
    counts for {CMS_PROBES} probe keys.  The CMS guarantee is one-sided
    (est >= exact, and est <= exact + eps*N w.p. {CMS_CONF}), so like
    the HLL/quantile sketches the oracle is self-validating: the output
    is the exact count plus the boolean bound check, deterministic and
    engine-agnostic (DuckDB has no CMS; its side proves the exact
    counts and expects every bound to hold).

    The sketch is the 100 TB answer to "how often does key X occur"
    without a groupBy over the full key space: constant memory
    (ceil(e/eps) x ceil(ln(1/delta)) counters), merged associatively
    across partitions (treeAggregate under ``df.stat.countMinSketch``);
    only the probe loop is driver-side, and it touches the sketch, not
    data."""
    ev = load_table(spark, sf_dir, "events")
    # one scan: total rows, the sketch (partial-merged across partitions
    # by the SQL aggregate), and it stays JVM-side until the single
    # serialized-sketch row comes back
    agg = ev.agg(
        F.count("*").alias("n_total"),
        F.expr(
            f"count_min_sketch(user_id, cast({CMS_EPS} as double),"
            f" cast({CMS_CONF} as double), 42)"
        ).alias("sketch"),
    ).head()
    n_total, raw = agg["n_total"], bytes(agg["sketch"])
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    exact = (
        ev.filter(F.col("user_id") < CMS_PROBES)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy("user_id")
        .collect()
    )
    bound = CMS_EPS * n_total
    rows = []
    for r in exact:
        est = cms.estimateCount(jvm.java.lang.Long.valueOf(int(r["user_id"])))
        rows.append(
            (
                r["user_id"],
                r["exact_n"],
                bool(r["exact_n"] <= est <= r["exact_n"] + bound),
            )
        )
    return spark.createDataFrame(
        rows, "user_id bigint, exact_n bigint, within_bound boolean"
    ).orderBy("user_id")


BLOOM_ITEMS = 200_000  # expected distinct insertions sized for sf1
BLOOM_FPP = 0.01  # design false-positive probability
BLOOM_FPP_BOUND = 0.05  # audit cut, generous over the design point
BLOOM_MEMBER_PROBES = 20  # lowest member keys, re-probed for misses
BLOOM_ABSENT_PROBES = 150  # synthetic keys guaranteed outside the domain
# probe counts sized so the py4j round-trip cost (~2 ms/probe) stays
# under the distributed build cost -- the sketch, not the loop, is the op
_BLOOM_ABSENT_BASE = 10_000_000  # far above any fixture custkey


@register(
    "bloom_membership_audit",
    oracle=f"""
    WITH m AS (
        SELECT DISTINCT o_custkey FROM orders
        ORDER BY o_custkey LIMIT {BLOOM_MEMBER_PROBES}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_member_probes,
           TRUE AS no_false_negatives,
           CAST({BLOOM_ABSENT_PROBES} AS BIGINT) AS n_absent_probes,
           TRUE AS fp_rate_within_bound
    """,
)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: build a filter over every customer
    key that placed an order (the sketch Spark's runtime row-level
    filtering ships to the probe side of large joins; built here with
    the distributed ``DataFrameStatFunctions.bloomFilter`` treeAggregate
    over the order scan), then check the two Bloom guarantees: the
    lowest {BLOOM_MEMBER_PROBES} member keys all hit (false negatives
    are structurally impossible), and {BLOOM_ABSENT_PROBES} keys chosen
    outside the key domain false-positive at under {BLOOM_FPP_BOUND}
    (design point {BLOOM_FPP}).  Self-validating oracle like the
    HLL/CMS/quantile sketches: DuckDB proves the probe-set cardinalities
    and expects both booleans true.

    The build pass is the scalable part and stays fully distributed;
    probing touches only the serialized sketch (KBs) on the driver --
    production probes happen inside the join itself, where the engine
    injects this exact filter into the scan."""
    orders = load_table(spark, sf_dir, "orders")
    if orders.select("o_custkey").limit(1).count() == 0:
        # empty key domain: the JVM bloomFilter aggregate rejects it;
        # an audit over nothing is empty, not an error
        return spark.createDataFrame(
            [],
            "n_member_probes bigint, no_false_negatives boolean,"
            " n_absent_probes bigint, fp_rate_within_bound boolean",
        )
    bf = orders.select("o_custkey")._jdf.stat().bloomFilter(
        "o_custkey", BLOOM_ITEMS, BLOOM_FPP
    )
    members = [
        r["o_custkey"]
        for r in orders.select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(BLOOM_MEMBER_PROBES)
        .collect()
    ]
    jvm = spark.sparkContext._jvm
    misses = sum(
        0 if bf.mightContain(jvm.java.lang.Long.valueOf(int(k))) else 1
        for k in members
    )
    fps = sum(
        1
        if bf.mightContain(
            jvm.java.lang.Long.valueOf(_BLOOM_ABSENT_BASE + i)
        )
        else 0
        for i in range(BLOOM_ABSENT_PROBES)
    )
    row = (
        len(members),
        misses == 0,
        BLOOM_ABSENT_PROBES,
        fps <= BLOOM_ABSENT_PROBES * BLOOM_FPP_BOUND,
    )
    return spark.createDataFrame(
        [row],
        "n_member_probes bigint, no_false_negatives boolean,"
        " n_absent_probes bigint, fp_rate_within_bound boolean",
    )


@register(
    "lsh_recall_audit",
    oracle=f"""
    WITH {LSH_PAIRS_DUCK_CTES},
    exact_sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]
               ))) AS shingle
        FROM documents
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM exact_sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM exact_sh a
        JOIN exact_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
        -- exact rational J >= 1/2 (matches the PPJoin+ kernel's
        -- integer threshold; rounding first would admit pairs within
        -- 5e-7 below tau that the prefix-filter lemma never promises
        -- to enumerate): n_common/(na+nb-n_common) >= 1/2 iff
        -- 3*n_common >= na+nb
        WHERE {NEARDUP_NUM + NEARDUP_DEN} * n_common >= {NEARDUP_NUM} * (sa.n_sh + sb.n_sh)
    ),
    lshp AS (
        SELECT doc_a, doc_b FROM lsh_pairs
        WHERE jaccard >= {NEARDUP_THRESHOLD}
    ),
    matched AS (
        SELECT e.doc_a AS e_a, l.doc_a AS l_a
        FROM exact e
        FULL JOIN lshp l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(COUNT(*) FILTER (WHERE e_a IS NOT NULL) AS BIGINT) AS n_exact,
           CAST(COUNT(*) FILTER (WHERE l_a IS NOT NULL) AS BIGINT) AS n_lsh,
           CAST(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                AS BIGINT) AS n_common,
           ROUND(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                 * 1.0 / COUNT(*) FILTER (WHERE e_a IS NOT NULL), 6)
               AS recall,
           ROUND(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                 * 1.0 / COUNT(*) FILTER (WHERE l_a IS NOT NULL), 6)
               AS precision
    FROM matched
    """,
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: the MinHash-LSH candidate generator scored
    against exact all-pairs ground truth at the {NEARDUP_THRESHOLD}
    Jaccard operating point.  Recall is the fraction of true near-dup
    pairs the banding surfaces (the S-curve's miss rate made empirical);
    precision is 1.0 by construction (candidates are verified with the
    exact Jaccard before thresholding) -- the audit proves both, which
    is exactly the calibration run before committing band/row settings
    for a 100 TB dedup pass.

    Both pair tables are session-staged slivers; the audit itself is one
    full-outer join on the pair key plus one aggregate.  Ground truth
    comes from the parameterized PPJoin+ kernel
    (``ssjoin.ssjoin_pairs_above`` at tau = 1/2, exact by the
    prefix-filter lemma at any rational tau) rather than an all-pairs
    kernel: the round-8 sf1 bench measured the previous sgemm ground
    truth at 117 s at x10 -- quadratic in corpus size by design --
    while the prefix-filtered kernel's funnel is measured linear at
    x10/x100, which is the only ground-truth generator a 100 TB
    calibration run can actually afford.

    OPERATING RULE (round 9, SCALE.md): this exhaustive audit is the
    labeled EXACTNESS TWIN -- run it to validate the estimator, not as
    the routine calibration.  The default calibration any pipeline or
    ops runbook should reference is ``lsh_recall_sampled``, whose cost
    grows with the SAMPLE's pair count instead of the corpus's (x100:
    9.0 s vs this audit's exhaustive join; estimate within 0.003 of
    the exhaustive recall at both probe scales)."""
    from wsu_cpts_415_spark.queries.ssjoin import ssjoin_pairs_above

    # the kernel's tau is NEARDUP_NUM/NEARDUP_DEN -- the SAME rational
    # as the float threshold and the oracle coefficients, so its
    # output IS the ground-truth pair set by construction
    exact = ssjoin_pairs_above(
        spark, sf_dir, NEARDUP_NUM, NEARDUP_DEN
    ).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    lshp = (
        lsh_verified_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= NEARDUP_THRESHOLD)
        .select("doc_a", "doc_b", F.lit(1).alias("in_lsh"))
    )
    matched = exact.join(lshp, ["doc_a", "doc_b"], "full_outer")
    both = (F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull()).cast(
        "long"
    )
    return matched.agg(
        F.sum(F.col("in_exact").isNotNull().cast("long")).alias("n_exact"),
        F.sum(F.col("in_lsh").isNotNull().cast("long")).alias("n_lsh"),
        F.sum(both).alias("n_common"),
        F.round(
            F.sum(both) / F.sum(F.col("in_exact").isNotNull().cast("long")),
            6,
        ).alias("recall"),
        F.round(
            F.sum(both) / F.sum(F.col("in_lsh").isNotNull().cast("long")),
            6,
        ).alias("precision"),
    )


# Deterministic 1-in-20 doc sample for the sampled calibration: at
# 100 TB this predicate would be pmod(xxhash64(doc_id), 20) (id
# distribution unknown); the oracle engine lacks xxhash64, so the
# fixture protocol uses the id residue directly and documents the swap.
RECALL_SAMPLE_MOD, RECALL_SAMPLE_REM = 20, 7

_SAMPLED_RECALL_DUCK = f"""
    WITH {{lsh_ctes}},
    exact_sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]
               ))) AS shingle
        FROM documents
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM exact_sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM exact_sh a
        JOIN exact_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
        -- exact rational J >= 1/2, same reasoning as lsh_recall_audit
        WHERE {NEARDUP_NUM + NEARDUP_DEN} * n_common >= {NEARDUP_NUM} * (sa.n_sh + sb.n_sh)
          AND (CASE WHEN sa.n_sh < sb.n_sh THEN doc_a ELSE doc_b END)
              % {RECALL_SAMPLE_MOD} = {RECALL_SAMPLE_REM}
    ),
    lshp AS (
        SELECT l.doc_a, l.doc_b
        FROM lsh_pairs l
        JOIN sizes sa ON sa.doc_id = l.doc_a
        JOIN sizes sb ON sb.doc_id = l.doc_b
        WHERE l.jaccard >= {{thr}}
          AND (CASE WHEN sa.n_sh < sb.n_sh THEN l.doc_a ELSE l.doc_b END)
              % {RECALL_SAMPLE_MOD} = {RECALL_SAMPLE_REM}
    ),
    matched AS (
        SELECT e.doc_a AS e_a, l.doc_a AS l_a
        FROM exact e
        FULL JOIN lshp l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(COUNT(*) FILTER (WHERE e_a IS NOT NULL) AS BIGINT)
               AS n_exact_sampled,
           CAST(COUNT(*) FILTER (WHERE l_a IS NOT NULL) AS BIGINT)
               AS n_lsh_sampled,
           CAST(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                AS BIGINT) AS n_common,
           ROUND(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                 * 1.0 / NULLIF(COUNT(*) FILTER (WHERE e_a IS NOT NULL), 0),
                 6) AS recall_est,
           ROUND(COUNT(*) FILTER (WHERE e_a IS NOT NULL AND l_a IS NOT NULL)
                 * 1.0 / NULLIF(COUNT(*) FILTER (WHERE l_a IS NOT NULL), 0),
                 6) AS precision_est
    FROM matched
"""


@register(
    "lsh_recall_sampled",
    oracle=_SAMPLED_RECALL_DUCK.format(
        lsh_ctes=LSH_PAIRS_DUCK_CTES, thr=NEARDUP_THRESHOLD
    ),
)
def lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED calibration protocol -- what a 100 TB corpus actually
    runs: recall/precision of the LSH candidate generator estimated
    from the 1-in-{RECALL_SAMPLE_MOD} deterministic doc sample, where a
    pair enters the estimate iff its PROBING endpoint (the smaller doc
    under the SSJoin role rule; ties to the larger id) is sampled.
    Every pair has exactly one probe endpoint, so a uniform doc sample
    is a uniform pair sample and the estimates are unbiased; the exact
    ground-truth join's PROBE INPUT shrinks by the sample rate (the
    predicate is pushed into the prefix table before the self-join --
    ``_ssjoin_frames(probe_pred=...)``), so ground-truth cost is
    ~rate x the full audit's.  ``lsh_recall_audit`` stays the
    registered exhaustive twin the sample is judged against."""
    from wsu_cpts_415_spark.queries.similarity import (
        _hashed_staged,
        lsh_verified_pairs,
    )
    from wsu_cpts_415_spark.queries.ssjoin import _ssjoin_frames

    probe_pred = (
        F.pmod(F.col("doc_id"), F.lit(RECALL_SAMPLE_MOD))
        == RECALL_SAMPLE_REM
    )
    _j, _c, _s, verified = _ssjoin_frames(
        spark, sf_dir, NEARDUP_NUM, NEARDUP_DEN, probe_pred=probe_pred
    )
    exact = verified.select("doc_a", "doc_b", F.lit(1).alias("in_exact"))
    sizes = _hashed_staged(spark, sf_dir).select(
        "doc_id", F.size("shingles").alias("n_sh")
    )
    # same probe-endpoint rule on the LSH side: probe = smaller doc,
    # ties -> larger id (pairs are already id-ordered doc_a < doc_b)
    lshp = (
        lsh_verified_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= NEARDUP_THRESHOLD)
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "probe_doc",
            F.when(F.col("na") < F.col("nb"), F.col("doc_a")).otherwise(
                F.col("doc_b")
            ),
        )
        .filter(
            F.pmod(F.col("probe_doc"), F.lit(RECALL_SAMPLE_MOD))
            == RECALL_SAMPLE_REM
        )
        .select("doc_a", "doc_b", F.lit(1).alias("in_lsh"))
    )
    matched = exact.join(lshp, ["doc_a", "doc_b"], "full_outer")
    both = (
        F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull()
    ).cast("long")
    # coalesce: an EMPTY sample must read 0/0/0 + null estimates (the
    # oracle's COUNT FILTER yields 0, Spark's sum-over-nothing null)
    n_exact = F.coalesce(
        F.sum(F.col("in_exact").isNotNull().cast("long")), F.lit(0)
    )
    n_lsh = F.coalesce(
        F.sum(F.col("in_lsh").isNotNull().cast("long")), F.lit(0)
    )
    n_common = F.coalesce(F.sum(both), F.lit(0))
    return matched.agg(
        n_exact.alias("n_exact_sampled"),
        n_lsh.alias("n_lsh_sampled"),
        n_common.alias("n_common"),
        F.round(F.try_divide(n_common, F.nullif(n_exact, F.lit(0))), 6).alias(
            "recall_est"
        ),
        F.round(F.try_divide(n_common, F.nullif(n_lsh, F.lit(0))), 6).alias(
            "precision_est"
        ),
    )


def _langid_confusion_oracle() -> str:
    """Wrap the registered lang_id_heuristic oracle as a CTE: the eval
    consumes the classifier's own cross-checked definition, so the two
    can never drift apart."""
    from wsu_cpts_415_spark.queries import text  # noqa: F401  (registers)
    from wsu_cpts_415_spark.registry import REGISTRY

    return f"""
    WITH pred AS ({REGISTRY["lang_id_heuristic"].oracle})
    SELECT labeled_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0
                 / SUM(COUNT(*)) OVER (PARTITION BY labeled_lang), 6)
               AS row_share
    FROM pred
    GROUP BY labeled_lang, pred_lang
    ORDER BY labeled_lang, pred_lang
    """


@register("langid_confusion_matrix", oracle=_langid_confusion_oracle())
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the language-ID heuristic's
    confusion matrix against the labeled ``lang`` column, with per-cell
    counts and the cell's share of its true-label row -- the standard
    eval artifact for any model-based filter before it gates a corpus.
    Composes the registered ``lang_id_heuristic`` (text.py) with one
    bounded aggregate over (label x prediction)."""
    from wsu_cpts_415_spark.queries.text import lang_id_heuristic

    pred = lang_id_heuristic(spark, sf_dir)
    counts = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return (
        counts.select(
            "labeled_lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.sum("n").over(w), 6).alias("row_share"),
        )
        .orderBy("labeled_lang", "pred_lang")
    )


@register(
    "hash_sample_per_group",
    oracle=f"""
    SELECT lang, doc_id, CAST(rn AS INT) AS rn
    FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= {SAMPLE_K}
    ORDER BY lang, rn
    """,
)
def hash_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly {SAMPLE_K} documents per language, chosen by md5-of-key
    order: the deterministic, repartition-stable analogue of per-group
    reservoir sampling (the hash is the uniform random draw; re-runs and
    cluster resizes reproduce it bit-for-bit, unlike ``sampleBy``'s
    partition-order RNG).  Guarantees the exact per-group count that the
    bucket-filter sampler (``stratified_sample_lang``) only hits in
    expectation.

    The rank is per-group with a rank predicate on top, which Spark
    executes as WindowGroupLimit: each partition keeps {SAMPLE_K} rows
    per group before the shuffle, so the sort is over group-count x
    {SAMPLE_K} rows, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_K)
        .select("lang", "doc_id", F.col("rn").cast("int").alias("rn"))
        .orderBy("lang", "rn")
    )


@register(
    "dataset_card_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_doc_tokens,
           ROUND(COUNT(*) FILTER (WHERE lang = 'en') * 100.0 / COUNT(*), 4)
               AS pct_english,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
               AS n_exact_dups
    FROM documents
    """,
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card headline block in one scan: corpus size, language
    and source cardinalities, token/char volume, English share, and the
    exact-duplicate count -- the numbers every dataset release documents
    first (Gebru et al. 2021 datasheets; HF dataset cards).  Everything
    is a conditional or distinct aggregate over the single pass, so the
    card costs one table scan regardless of how many stats it grows."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(n_tokens).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg(n_tokens), 4).alias("avg_doc_tokens"),
        F.round(
            F.sum((F.col("lang") == "en").cast("long")) * 100.0 / F.count("*"),
            4,
        ).alias("pct_english"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


register_sql(
    "lang_drift_chisq",
    """Distribution-shift monitor: per-source chi-square statistic of the
    source's language mix against the corpus-wide mix (expected counts =
    source volume x corpus language share).  The drift alarm a corpus
    refresh pipeline runs per ingest batch -- a source whose mix lurches
    from the corpus profile gets quarantined before it skews training.

    Three bounded aggregates (source x lang cells, source totals,
    language shares) and row-local arithmetic; the observed-cell table
    is the only thing that ever shuffles, and it is |sources| x |langs|
    rows.  (Cells where a language is absent from a source contribute
    only through present cells -- both engines enumerate the same
    observed cells, so the statistic is identically defined.)""",
    """
    WITH obs AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    ),
    src_tot AS (
        SELECT source, CAST(SUM(n) AS DOUBLE) AS src_n FROM obs
        GROUP BY source
    ),
    lang_share AS (
        SELECT lang, SUM(n) * 1.0 / (SELECT SUM(n) FROM obs) AS p
        FROM obs GROUP BY lang
    ),
    cells AS (
        SELECT o.source,
               POWER(o.n - s.src_n * l.p, 2) / (s.src_n * l.p) AS cell
        FROM obs o
        JOIN src_tot s USING (source)
        JOIN lang_share l USING (lang)
    )
    SELECT source, ROUND(SUM(cell), 6) AS chi_sq,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells
    GROUP BY source
    ORDER BY source
    """,
)


@register(
    "source_dedup_crosstab",
    oracle=f"""
    WITH {LSH_PAIRS_DUCK_CTES},
    src AS (SELECT doc_id, source FROM documents),
    labeled AS (
        SELECT LEAST(sa.source, sb.source) AS source_lo,
               GREATEST(sa.source, sb.source) AS source_hi
        FROM lsh_pairs p
        JOIN src sa ON sa.doc_id = p.doc_a
        JOIN src sb ON sb.doc_id = p.doc_b
        WHERE p.jaccard >= {NEARDUP_THRESHOLD}
    )
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CASE WHEN source_lo = source_hi THEN 'within' ELSE 'cross' END
               AS kind
    FROM labeled
    GROUP BY source_lo, source_hi
    ORDER BY source_lo, source_hi
    """,
)
def source_dedup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication provenance: which source pairs the near-duplicate
    pairs connect -- within-source duplication points at a crawler
    re-fetching, cross-source duplication at content syndication (and at
    dedup ordering: dedup BEFORE mixing, or the mixture weights count
    the same document twice).

    Scale: reuses the session-staged verified pair table (16-byte ids +
    jaccard) and joins the |docs|-row (doc_id, source) sliver twice;
    output is bounded by sources^2."""
    from wsu_cpts_415_spark.queries.similarity import lsh_verified_pairs

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = lsh_verified_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= NEARDUP_THRESHOLD
    )
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
    )
    return (
        labeled.groupBy("source_lo", "source_hi")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn(
            "kind",
            F.when(F.col("source_lo") == F.col("source_hi"), "within").otherwise(
                "cross"
            ),
        )
        .orderBy("source_lo", "source_hi")
    )


HLL_LGK = 14  # datasketches lgConfigK: rel. std err ~ 1.04/sqrt(2^14) = 0.8%
HLL_TOL = 0.05  # audit cut, ~6 sigma over the design error


@register(
    "hll_sketch_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tol
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-DAY HyperLogLog sketches of distinct
    users (datasketches ``hll_sketch_agg``), unioned per MONTH with
    ``hll_union_agg`` and estimated -- audited against the exact
    per-month distinct count (self-validating oracle, same discipline as
    cms_frequency_check: DuckDB proves the exact side and expects every
    tolerance check to hold).

    This is THE 100 TB pre-aggregation pattern for distinct counts:
    distinct is not algebraic (day-grain counts cannot be added into a
    month), but HLL sketch bytes ARE -- materialize the day-grain sketch
    table once, and every coarser grain (month, quarter, region x month)
    is a union over kilobyte sketches, never a rescan of the raw events.
    Everything here stays JVM-side: the day sketches partial-merge
    across partitions inside the hash aggregate, and the month union
    moves one ~2^{HLL_LGK}-register blob per (day, month) pair."""
    ev = load_table(spark, sf_dir, "events")
    day_sketches = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LGK})").alias("sk"))
    monthly_est = day_sketches.groupBy(
        F.to_date(F.date_trunc("month", "day")).alias("month")
    ).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_users")
    )
    exact = ev.groupBy(
        F.to_date(F.date_trunc("month", "ts")).alias("month")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        exact.join(monthly_est, "month")
        .select(
            "month",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= HLL_TOL * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("month")
    )


THETA_TOL = 0.05  # relative bound vs the pair's exact union (floor 2.0)


@register(
    "theta_sketch_setops",
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (
        SELECT a.t AS type_a, b.t AS type_b
        FROM types a, types b WHERE a.t < b.t
    ),
    ut AS (SELECT DISTINCT user_id, event_type FROM events),
    pair_users AS (
        SELECT p.type_a, p.type_b, u.user_id,
               MAX(u.event_type = p.type_a) AS in_a,
               MAX(u.event_type = p.type_b) AS in_b
        FROM pairs p JOIN ut u
          ON u.event_type IN (p.type_a, p.type_b)
        GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS exact_union,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_intersect,
           CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_diff,
           TRUE AS union_ok, TRUE AS intersect_ok, TRUE AS diff_ok
    FROM pair_users
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA over distinct user audiences: one sketch
    per event type (single scan), then |A u B|, |A n B|, |A \\ B| for
    every type pair straight from sketch blobs via
    theta_union/theta_intersection/theta_difference -- the operation HLL
    sketches cannot do (hll_sketch_rollup unions only; theta's retained
    hash SAMPLE supports intersection and difference).  Self-validating
    oracle like the other sketch audits: exact sides proven in SQL,
    every estimate must land within max(2, {tol:.0%} of the pair's exact
    union).

    Scale: the audience-overlap matrix at 100 TB without any pairwise
    user-set join -- sketches build in one partial-agg pass, pair
    algebra happens on kilobyte blobs (here a 5x5 enum grid; for
    thousands of segments the same blobs join on segment keys)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    types = ut.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    ut2 = ut.select("user_id", F.col("event_type").alias("u_type"))
    pair_users = (
        F.broadcast(pairs)
        .join(
            ut2,
            (F.col("u_type") == F.col("type_a"))
            | (F.col("u_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "user_id")
        .agg(
            F.max(F.col("u_type") == F.col("type_a")).alias("in_a"),
            F.max(F.col("u_type") == F.col("type_b")).alias("in_b"),
        )
    )
    exact = pair_users.groupBy("type_a", "type_b").agg(
        F.count("*").alias("exact_union"),
        F.sum(
            F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)
        ).alias("exact_intersect"),
        F.sum(
            F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0)
        ).alias("exact_diff"),
    )
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    est = (
        sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("ska"))
        .join(
            sk.select(
                F.col("event_type").alias("type_b"), F.col("sk").alias("skb")
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .select(
            "type_a",
            "type_b",
            F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("e_u"),
            F.theta_sketch_estimate(
                F.theta_intersection("ska", "skb")
            ).alias("e_i"),
            F.theta_sketch_estimate(
                F.theta_difference("ska", "skb")
            ).alias("e_d"),
        )
    )
    bound = F.greatest(F.lit(2.0), F.lit(THETA_TOL) * F.col("exact_union"))
    return (
        exact.join(est, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_union",
            "exact_intersect",
            "exact_diff",
            (F.abs(F.col("e_u") - F.col("exact_union")) <= bound).alias(
                "union_ok"
            ),
            (F.abs(F.col("e_i") - F.col("exact_intersect")) <= bound).alias(
                "intersect_ok"
            ),
            (F.abs(F.col("e_d") - F.col("exact_diff")) <= bound).alias(
                "diff_ok"
            ),
        )
        .orderBy("type_a", "type_b")
    )
