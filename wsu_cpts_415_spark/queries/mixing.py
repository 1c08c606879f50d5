"""Corpus mixing, packing, and sampling operators for training-data
pipelines (engine extension beyond the reference surface; the reference's
closest analogue is its filter/aggregate stage, analyze_links.py:133-171).

Four standard pre-training data-prep steps, each with a DuckDB oracle:

  * ``sequence_packing``   -- pack documents into fixed token-budget
    training blocks (the "document packing" step before tokenized
    sequences are written), greedy-contiguous within a shard.
  * ``crossdoc_span_dedup`` -- cross-document repeated-span detection:
    which 5-gram spans of a document also occur in other documents
    (substring-level duplication, complementary to whole/near-dup).
  * ``lang_mix_rebalance``  -- per-language resampling weights that move
    the corpus mix toward a uniform target without upsampling.
  * ``quality_weighted_sample`` -- deterministic importance sampling
    where a document's keep-rate scales with its within-language
    length decile (hash-bucket admission, no RNG).

Scale design: packing and span-dedup shuffle on (shard, doc) / gram keys
only; rebalance aggregates to |languages| rows before its (tiny) window;
the sampler is a row-local filter with no shuffle at all.  Nothing here
collects to the driver.

``lang_mix_rebalance`` is written once, as its oracle SQL: Spark runs
that text verbatim over the fixture views (``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register, register_sql

PACK_BUDGET = 256  # tokens per packed training sequence
SPAN_N = 5  # span length (tokens) for cross-doc duplicate spans


@register(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS tok_offset
        FROM toks
    )
    SELECT source,
           CAST(FLOOR(tok_offset / {PACK_BUDGET}.0) AS BIGINT) AS seq_no,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           ROUND(SUM(n_tokens) / {PACK_BUDGET}.0, 4) AS fill_ratio
    FROM offs
    GROUP BY source, seq_no
    ORDER BY source, seq_no
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents are laid end-to-end in
    stable (doc_id) order within each source shard, and a document joins
    the training block its first token lands in (block = running token
    offset div {PACK_BUDGET}).  Output is the per-block manifest a
    sequence writer would consume: doc count, token count, fill ratio.

    Scale: the running offset is a window WITHIN each source shard --
    partition-parallel, never a global sort.  At 100 TB packing is
    per-shard by construction (block boundaries must not cross shards or
    determinism dies on re-partitioning), so the window key matches the
    natural write layout; the final aggregate shuffles |blocks| rows,
    not documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = toks.select(
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tok_offset"),
    )
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("tok_offset") / F.lit(float(PACK_BUDGET)))
            .cast("bigint")
            .alias("seq_no"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
            F.round(F.sum("n_tokens") / F.lit(float(PACK_BUDGET)), 4).alias(
                "fill_ratio"
            ),
        )
        .orderBy("source", "seq_no")
    )


@register(
    "crossdoc_span_dedup",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - {SPAN_N - 1}),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + {SPAN_N - 1}),
                       ' ')
               ))) AS gram
        FROM documents
    ),
    gram_df AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           ROUND(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
    FROM grams g JOIN gram_df d USING (gram)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def crossdoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span duplication: for every document, the fraction
    of its distinct {SPAN_N}-token spans that also appear in at least one
    other document -- the substring-level dup signal used to catch
    boilerplate and template reuse that whole-document and MinHash dedup
    both miss.

    Scale: ONE explode pass to (doc, span-hash), one hash aggregate per
    span collecting (document-frequency, posting list), explode the
    posting list back and roll up per doc -- an inverted-index build, no
    self-join (which would rescan and re-explode the corpus) and no sort
    (which a count-over-window would pay).  The span is xxhash64'd to
    8 bytes at the scan so the shuffle moves (int64, int64) rows rather
    than ~30-char strings; the oracle groups the raw string -- identical
    counts barring a 64-bit collision (~1e-10 at 1e4 distinct spans per
    fixture; at 100 TB swap in a 128-bit hash).  Hot boilerplate spans
    skew their posting lists exactly like any inverted index; the
    production knob is capping df at the threshold (only df>=2 matters
    here, so the list can be truncated at 2 per partial aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    spans = F.when(
        F.size("toks") >= SPAN_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1)),
                lambda i: F.xxhash64(F.array_join(F.slice("toks", i, SPAN_N), " ")),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = toks.select("doc_id", F.explode(spans).alias("gram_h"))
    postings = grams.groupBy("gram_h").agg(
        F.collect_list("doc_id").alias("docs")
    )
    scored = postings.select(
        F.explode("docs").alias("doc_id"), F.size("docs").alias("df")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


register_sql(
    "lang_mix_rebalance",
    """Language-mix rebalancing: per-language sampling weights that move
    the corpus toward a uniform language target by DOWN-sampling only
    (the rarest language keeps probability 1.0; everything else scales
    by target_share / actual_share, renormalized to the max).

    Scale: the corpus collapses to |languages| rows in one partial-agg
    pass before any window touches it -- the unpartitioned MAX window
    runs over a handful of rows, and the emitted keep_prob table is the
    broadcast side of the actual resampling filter.""",
    """
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_langs
        FROM counts
    ),
    w AS (
        SELECT lang, n_docs,
               n_docs / total AS share,
               (1.0 / n_langs) / (n_docs / total) AS weight
        FROM counts CROSS JOIN tot
    )
    SELECT lang, n_docs,
           ROUND(share, 6) AS share,
           ROUND(weight, 6) AS weight,
           ROUND(weight / MAX(weight) OVER (), 6) AS keep_prob,
           CAST(ROUND(n_docs * (weight / MAX(weight) OVER ()), 0) AS BIGINT)
               AS expected_docs
    FROM w
    ORDER BY lang
    """,
)


@register(
    "quality_weighted_sample",
    oracle="""
    WITH dec AS (
        SELECT doc_id, lang,
               CAST(NTILE(10) OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id
               ) AS INT) AS decile,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang, decile, bucket
    FROM dec
    WHERE bucket < decile * 10
    ORDER BY doc_id
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: a document's keep-rate
    scales with its within-language length decile (decile 1 keeps 10%,
    decile 10 keeps 100%), admission decided by the same deterministic
    md5 hash-bucket as ``stratified_sample_lang`` -- reproducible under
    repartitioning, incremental reruns, and cluster resizes, unlike
    seeded-RNG sampling.

    Scale: the decile is a per-language window (partition-parallel; at
    100 TB a length-histogram quantile sketch would replace the exact
    NTILE -- same admission rule, no within-language sort); the hash
    admission itself is a row-local filter, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    bucket = F.expr(
        "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)"
        " as bigint), 100)"
    )
    dec = docs.select(
        "doc_id",
        "lang",
        F.ntile(10).over(w).cast("int").alias("decile"),
        bucket.alias("bucket"),
    )
    return dec.filter(F.col("bucket") < F.col("decile") * 10).orderBy("doc_id")


CORRUPT_RATE = 0.15  # fraction of tokens covered by noise spans (T5)
CORRUPT_SPAN = 3  # mean/fixed span length in tokens


@register(
    "span_corruption_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    plan AS (
        SELECT doc_id, n_tokens,
               CAST(ROUND(n_tokens * {CORRUPT_RATE} / {CORRUPT_SPAN})
                    AS BIGINT) AS n_spans
        FROM toks
        WHERE n_tokens > {CORRUPT_SPAN}
          AND ROUND(n_tokens * {CORRUPT_RATE} / {CORRUPT_SPAN}) >= 1
    )
    SELECT doc_id,
           CAST(t.i AS BIGINT) AS span_idx,
           1 + (('0x' || substr(md5(CAST(doc_id * 1000 + t.i AS VARCHAR)),
                                1, 8))::BIGINT
                % (n_tokens - {CORRUPT_SPAN})) AS start_tok,
           CAST({CORRUPT_SPAN} AS BIGINT) AS span_len
    FROM plan, UNNEST(generate_series(1, CAST(n_spans AS INT))) AS t(i)
    ORDER BY doc_id, span_idx
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan: for each document, the
    deterministic set of noise spans a denoising-objective writer would
    mask -- ~{CORRUPT_RATE:.0%} of tokens in {CORRUPT_SPAN}-token spans,
    span starts drawn by keyed md5 arithmetic (reproducible under any
    partitioning; overlapping starts are legal and resolved by the
    writer exactly as in the reference T5 pipeline's random-span
    sampling, Raffel et al. 2020 §3.1.4).

    Pure row-local arithmetic plus one explode of n_spans per document:
    no shuffle, output size ~rate/span x corpus tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") > CORRUPT_SPAN)
    # n_spans >= 1 filter matters: Spark's sequence(1, 0) DESCENDS to
    # [1, 0] instead of being empty (DuckDB's generate_series is empty),
    # so a zero-span doc would fabricate two spans on one engine only
    plan = toks.withColumn(
        "n_spans",
        F.round(F.col("n_tokens") * CORRUPT_RATE / CORRUPT_SPAN).cast(
            "bigint"
        ),
    ).filter(F.col("n_spans") >= 1)
    start = 1 + F.expr(
        "pmod(cast(conv(substr(md5(cast(doc_id * 1000 + i as string)), 1, 8),"
        f" 16, 10) as bigint), n_tokens - {CORRUPT_SPAN})"
    )
    return (
        plan.select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(1), F.col("n_spans").cast("int"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("bigint").alias("span_idx"),
            start.alias("start_tok"),
            F.lit(CORRUPT_SPAN).cast("bigint").alias("span_len"),
        )
        .orderBy("doc_id", "span_idx")
    )


@register(
    "training_manifest_pipeline",
    oracle="""
    WITH scored AS (
        SELECT doc_id, text, lang,
               md5(text) AS digest,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               n_chars * 1.0 / len(string_split(text, ' ')) AS avg_tok_len
        FROM documents
    ),
    winners AS (
        SELECT digest, MIN(doc_id) AS keep_id
        FROM scored GROUP BY digest
    ),
    survivors AS (
        SELECT s.* FROM scored s JOIN winners w
          ON s.digest = w.digest AND s.doc_id = w.keep_id
    ),
    gated AS (
        SELECT * FROM survivors
        WHERE n_tokens >= 10 AND avg_tok_len <= 12
    ),
    assigned AS (
        SELECT doc_id, lang, n_tokens, avg_tok_len,
               CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_split'), 1, 8))::BIGINT) % 100 < 90
                    THEN 'train' ELSE 'val' END AS split,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_shard'), 1, 8))::BIGINT) % 8 AS shard
        FROM gated
    )
    SELECT split, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(avg_tok_len), 4) AS mean_tok_len,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM assigned
    GROUP BY split, shard
    ORDER BY split, shard
    """,
)
def training_manifest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-assembly DAG a training run actually
    consumes, as ONE query: exact-dedup survivors (deterministic
    min-doc_id winner per md5 digest) -> quality gate (length and mean
    token length bounds) -> hash-bucket train/val split -> hash shard
    assignment -> per-(split, shard) manifest with token budgets and
    language coverage.  Each stage reuses the semantics its standalone
    operator pins (dedup_exact, quality_score, train_val_test_split,
    shard_assignment_stats); this composition proves they stack.

    Scale: ONE scan of documents; the only data-sized shuffle is the
    digest groupBy (16-byte keys); split/shard assignment is row-local
    hash arithmetic; the manifest is |splits| x |shards| rows.  At
    100 TB this whole DAG is exactly two exchanges."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("digest"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        (
            F.col("n_chars") * 1.0 / F.size(F.split("text", " "))
        ).alias("avg_tok_len"),
    )
    winners = scored.groupBy("digest").agg(F.min("doc_id").alias("keep_id"))
    survivors = scored.join(
        winners,
        (scored["digest"] == winners["digest"])
        & (scored["doc_id"] == winners["keep_id"]),
    ).select(scored["*"])
    gated = survivors.filter(
        (F.col("n_tokens") >= 10) & (F.col("avg_tok_len") <= 12)
    )
    h = "cast(conv(substr(md5(concat(cast(doc_id as string), '{tag}')), 1, 8), 16, 10) as bigint)"
    assigned = gated.select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_tok_len",
        F.when(F.expr(h.format(tag="_split")) % 100 < 90, "train")
        .otherwise("val")
        .alias("split"),
        (F.expr(h.format(tag="_shard")) % 8).alias("shard"),
    )
    return (
        assigned.groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("avg_tok_len"), 4).alias("mean_tok_len"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split", "shard")
    )


RESERVOIR_K = 20  # exact per-language sample budget
_RES_SALT = "wres1"


@register(
    "weighted_reservoir_topk",
    oracle=f"""
    WITH keyed AS (
        SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
               LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_{_RES_SALT}'), 1, 12))::BIGINT
                   + 0.5) / 281474976710656.0) / n_chars AS k
        FROM documents
        WHERE n_chars > 0
    )
    SELECT lang, CAST(rnk AS INT) AS rank, doc_id, weight
    FROM (
        SELECT lang, doc_id, weight,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY k DESC, doc_id) AS rnk
        FROM keyed
    )
    WHERE rnk <= {RESERVOIR_K}
    ORDER BY lang, rank
    """,
)
def weighted_reservoir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling without replacement per language
    (Efraimidis-Spirakis A-ES): each doc draws key ln(u)/w with u from a
    seeded hash and w = n_chars; the k largest keys per stratum are a
    sample where inclusion probability is proportional to weight.
    Unlike the Bernoulli sampler (quality_weighted_sample) this hits an
    EXACT per-stratum budget -- the form a fixed token budget needs --
    and stays reproducible under repartitioning because u is
    hash-derived, not RNG.

    Scale: key assignment is a row-local expression; selection is a
    per-language top-k window (WindowGroupLimit pushes the k bound into
    the sort at every partition, so nothing beyond k rows per stratum
    survives the shuffle).  A-ES keys also MERGE: per-partition top-k
    then global top-k gives the identical sample, which is how the
    budget path scales past window comfort."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.expr(
            "cast(conv(substr(md5(concat(cast(doc_id as string), '_"
            + _RES_SALT
            + "')), 1, 12), 16, 10) as double)"
        )
        + F.lit(0.5)
    ) / F.lit(float(16**12))
    keyed = docs.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= RESERVOIR_K)
        .select("lang", "rank", "doc_id", "weight")
        .orderBy("lang", "rank")
    )
