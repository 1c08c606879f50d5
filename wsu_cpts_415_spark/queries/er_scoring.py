"""Entity-resolution match scoring: the stage AFTER candidate
generation.  Blocking (queries/semdedup.py) and LSH (queries/
similarity.py) produce candidate pairs; record linkage then combines
several weak signals into one calibrated match score per pair and keeps
the confident ones (Fellegi-Sunter shape, deterministic weights).

Signals per blocked candidate pair:
  * prefix edit similarity  1 - dist / max(prefix lengths)
  * content overlap         exact shingle Jaccard (0 when the pair never
                            shares a shingle -- the left join's null)
  * length agreement        min(n_chars) / max(n_chars)

Scale posture: every signal is computed PER CANDIDATE PAIR -- the
Jaccard attach joins candidates to the compact per-doc shingle-hash
arrays (broadcast under the SSJoin family's doc-side bound) and
intersects two ~|doc| integer arrays per pair, O(|candidates|) work.
Scoring is row-local arithmetic; the top-k is TakeOrderedAndProject.
(Probe-caught lesson #5, SCALE.md: the first draft attached Jaccard
from the globally-materialized exact pair table and measured 37.7x
wall at x10 -- a per-candidate signal computed from a global table
imports that table's complexity class.)

Candidate COUNT, however, is set by the blocking POLICY.  Round 8
measured the one-token key (lang, length-block, tok0) SATURATING at
x100 (``er_blocking_funnel``: 26.5M candidates, max block 7.4M pairs,
cold wall 559.8 s) and priced the extension
(``blocking_key_extension_audit``: +tok1 cuts x100 candidates 37x);
round 9 DEPLOYED the two-token key (lang, length-block, tok0, tok1) in
``semdedup.lev_candidates`` -- the dial SCALE.md lesson #7 prescribes.
The recall each key keeps against exact near-dup ground truth is a
registered measurement (``er_blocking_recall_audit``), so the
recall-vs-cost trade is quantified, not asserted; the oracle SQL
shares the same key, so conformance pins the deployed policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.queries.semdedup import (
    LEV_BLOCK_CHARS,
    LEV_MAX_DIST,
    LEV_PREFIX,
    lev_candidates,
)
from wsu_cpts_415_spark.queries.corpus_ops import _DUCK_BUCKET
from wsu_cpts_415_spark.queries.dedup_policy import NEW_BATCH_BUCKET
from wsu_cpts_415_spark.queries.similarity import LSH_PAIRS_DUCK_CTES
from wsu_cpts_415_spark.registry import register

_DUCK_BUCKET_100 = _DUCK_BUCKET.format(m=100)

W_EDIT, W_JAC, W_LEN = 0.5, 0.3, 0.2
ER_TOP_K = 50

_DUCK_EXACT_PAIRS = """exact_sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]
               ))) AS shingle
        FROM documents
    ),
    ssizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM exact_sh GROUP BY doc_id
    ),
    sinter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM exact_sh a
        JOIN exact_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT doc_a, doc_b,
               ROUND(CAST(n_common AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM sinter
        JOIN ssizes sa ON sa.doc_id = sinter.doc_a
        JOIN ssizes sb ON sb.doc_id = sinter.doc_b
    )"""


@register(
    "er_match_scores",
    oracle=f"""
    WITH blocked AS (
        SELECT doc_id, lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               COALESCE(string_split(text, ' ')[2], '') AS tok1,
               substr(text, 1, {LEV_PREFIX}) AS prefix,
               n_chars AS len_chars
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.prefix, b.prefix) AS dist,
               GREATEST(length(a.prefix), length(b.prefix)) AS plen,
               a.len_chars AS len_a, b.len_chars AS len_b
        FROM blocked a
        JOIN blocked b
          ON a.lang = b.lang AND a.blk = b.blk AND a.tok0 = b.tok0
         AND a.tok1 = b.tok1
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= {LEV_MAX_DIST}
    ),
    {_DUCK_EXACT_PAIRS}
    SELECT c.doc_a, c.doc_b,
           ROUND({W_EDIT} * (1 - CAST(c.dist AS DOUBLE) / c.plen)
                 + {W_JAC} * COALESCE(j.jaccard, 0)
                 + {W_LEN} * (LEAST(c.len_a, c.len_b) * 1.0
                              / GREATEST(c.len_a, c.len_b)), 6)
               AS match_score,
           CAST(c.dist AS INT) AS dist,
           ROUND(COALESCE(j.jaccard, 0), 6) AS jaccard
    FROM cand c
    LEFT JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    ORDER BY match_score DESC, c.doc_a, c.doc_b
    LIMIT {ER_TOP_K}
    """,
)
def er_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{ER_TOP_K} candidate pairs by composite match score:
    {W_EDIT} * prefix-edit similarity + {W_JAC} * shingle Jaccard +
    {W_LEN} * length agreement.  The multi-signal scoring stage of
    record linkage -- one weak signal misfires (word-soup prefixes look
    alike), the combination separates real near-dups from block
    coincidences.

    SCOPE: this is the SINGLE-PASS query -- it scores only the lev-key
    blocked candidates (measured 0.307 blocking recall at x100).  The
    production-recall path is ``er_multipass_match_scores`` below,
    which scores the union of all three candidate generators (0.9997
    blocking recall); this one remains the cheap single-generator
    variant and the funnel-comparison baseline."""
    from wsu_cpts_415_spark.queries.similarity import _h64_staged

    cand = lev_candidates(spark, sf_dir).withColumn(
        "plen",
        F.greatest(
            F.least(F.lit(LEV_PREFIX), F.col("len_a")),
            F.least(F.lit(LEV_PREFIX), F.col("len_b")),
        ),
    )
    # Jaccard attach, PER CANDIDATE PAIR: join the block-bounded
    # candidate set to the compact 64-bit shingle-hash arrays and
    # intersect two ~|doc| integer arrays per pair -- O(|candidates|)
    # work.  (The first draft attached Jaccard by computing the GLOBAL
    # pair table with the sgemm exactness kernel and probing it; the
    # x10 probe measured that at 37x wall for 10x docs -- the kernel is
    # all-pairs-quadratic by design, and this query only ever needed
    # the candidate sliver.  Probe-caught lesson #5, SCALE.md.)
    # Non-sharing pairs intersect to 0 shingles -> jaccard 0, exactly
    # the oracle's COALESCE over its absent sinter row; a pair of
    # shingle-less docs divides 0/0 -> null -> coalesced to 0 likewise.
    # Hash-collision bound vs the oracle's exact string-shingle Jaccard:
    # a cross-doc xxhash64 collision would inflate one intersection; at
    # ~hundreds of shingles per doc the per-pair probability is
    # ~|A||B|/2^64 < 1e-13, and the conformance gate would surface any
    # hit.  exact_pairs_with_jaccard intersects the string arrays when
    # bit-exactness must be unconditional.
    # doc-grain side table: broadcast under the same bound as the SSJoin
    # filter/verify joins, so the candidate pairs stream through two
    # broadcast-hash joins instead of being shuffled twice with the
    # arrays attached (x100 probe: the candidate table is 26.5M pairs
    # while the compact side is corpus-grain)
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    compact = maybe_broadcast(
        _h64_staged(spark, sf_dir),
        DOC_SIDE_BCAST_ROWS,
        stats_key=("h64_staged", sf_dir),
    )
    scored = (
        cand.join(
            compact.select(
                F.col("doc_id").alias("doc_a"), F.col("h64").alias("hs_a")
            ),
            "doc_a",
        )
        .join(
            compact.select(
                F.col("doc_id").alias("doc_b"), F.col("h64").alias("hs_b")
            ),
            "doc_b",
        )
        .withColumn("ncomm", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.coalesce(
                F.round(
                    F.col("ncomm").cast("double")
                    / (
                        F.size("hs_a")
                        + F.size("hs_b")
                        - F.col("ncomm")
                    ),
                    6,
                ),
                F.lit(0.0),
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                W_EDIT * (1 - F.col("dist").cast("double") / F.col("plen"))
                + W_JAC * F.col("jaccard")
                + W_LEN
                * (
                    F.least("len_a", "len_b")
                    / F.greatest("len_a", "len_b").cast("double")
                ),
                6,
            ).alias("match_score"),
            F.col("dist").cast("int").alias("dist"),
            "jaccard",
        )
    )
    return scored.orderBy(
        F.col("match_score").desc(), "doc_a", "doc_b"
    ).limit(ER_TOP_K)


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge): the
# third candidate-generation strategy in the engine, complementing
# length-block + first-token blocking (semdedup.lev_candidates) and
# MinHash-LSH banding (similarity.minhash_lsh_pairs).  Sort the corpus
# once by a domain key, then compare only records within a sliding
# window of W positions -- candidates are O(n * W) by construction, and
# the sort key (not a hash) decides what "close" means, which is why
# SNM survives typos that break exact blocking keys.
#
# Scale posture: the global sort order comes from the range-partitioned
# scalable-rank kernel (ops/scalable_rank.py) -- never a
# single-partition window -- and the windowed self-join is an EQUI-join
# on the rank block (each left row replicated to its own and the next
# block, W <= block width), so no range-condition nested loop and no
# cartesian anywhere.  The sort key is a packed fixed-width string so
# Spark and the oracle compare byte-identically.
#
# Blocking-saturation audit (round 9, same question as the lev key):
# SNM is IMMUNE to key saturation on the cost axis by construction --
# candidates are exactly (W-1) * n regardless of how many docs share a
# key prefix, because the window is over SORT POSITIONS, not key-equal
# blocks (measured: x100 candidate count is 100x the x10 count to
# within the W-1 boundary rows; wall 6.7 s warm at x100 in round 8,
# vs the lev key's 26.5M-pair blowup).
# Saturation of the leading key components only shifts WHICH docs are
# adjacent -- a recall policy, tuned like any SNM key (multi-pass with
# rotated keys in production); the key already ends with (n_chars,
# doc_id), so ordering inside a saturated prefix stays deterministic
# and conformance pins it.

SNM_WINDOW = 5  # pair records within W-1 sort positions
SNM_TOP_K = 50

_SNM_KEY_DUCK = (
    "lang || ' ' || string_split(text, ' ')[1] || ' ' || "
    "lpad(CAST(n_chars AS VARCHAR), 8, '0') || ' ' || "
    "lpad(CAST(doc_id AS VARCHAR), 12, '0')"
)


def _snm_ranked_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prefix, n_chars, rn): the corpus under the SNM sort key
    with its exact global rank -- durably staged (fingerprint-keyed
    parquet, round 11) so the windowed self-join (and the multi-pass
    recall audit) read ONE persisted table instead of running the rank
    kernel per consumer or per session.  skey embeds
    doc_id, so it is unique: the range-partitioned rank kernel (built
    for high-cardinality keys) gives the exact global order in one
    range shuffle."""
    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.ops.scalable_rank import (
        range_partitioned_row_number,
    )
    from wsu_cpts_415_spark.ops.staging import staged_table

    def build_ranked() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        keyed = docs.select(
            "doc_id",
            F.concat_ws(
                " ",
                "lang",
                F.split("text", " ").getItem(0),
                F.lpad(F.col("n_chars").cast("string"), 8, "0"),
                F.lpad(F.col("doc_id").cast("string"), 12, "0"),
            ).alias("skey"),
            F.substring("text", 1, LEV_PREFIX).alias("prefix"),
            "n_chars",
        )
        return range_partitioned_row_number(
            keyed, "skey", out_col="rn"
        ).select("doc_id", "prefix", "n_chars", "rn")

    return staged_table(
        spark,
        "snm_ranked",
        sf_dir,
        build_ranked,
        salt=f"skey:lang-tok0-n8-id12:pfx{LEV_PREFIX}",
        expect_cols=["doc_id", "prefix", "n_chars", "rn"],
    )


@register(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               {_SNM_KEY_DUCK} AS skey,
               substr(text, 1, {LEV_PREFIX}) AS prefix,
               n_chars
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, skey, prefix, n_chars,
               ROW_NUMBER() OVER (ORDER BY skey) AS rn
        FROM keyed
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(b.rn - a.rn AS INT) AS window_dist,
               levenshtein(a.prefix, b.prefix) AS dist,
               GREATEST(length(a.prefix), length(b.prefix)) AS plen,
               a.n_chars AS len_a, b.n_chars AS len_b
        FROM ranked a
        JOIN ranked b
          ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW - 1}
    )
    SELECT doc_a, doc_b, window_dist,
           -- floor(x*1e6 + 0.5)/1e6: identical IEEE rounding in both
           -- engines (plain ROUND diverges on half-points via Spark's
           -- decimal-string HALF_UP)
           FLOOR((0.7 * (1 - CAST(dist AS DOUBLE) / plen)
                  + 0.3 * (CAST(LEAST(len_a, len_b) AS DOUBLE)
                           / GREATEST(len_a, len_b))) * 1000000 + 0.5)
           / 1000000.0 AS match_score
    FROM pairs
    ORDER BY match_score DESC, doc_a, doc_b
    LIMIT {SNM_TOP_K}
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs with Fellegi-Sunter-style
    scores: sort by (lang, first token, length, id), pair every record
    with its W-1 successors, score by prefix edit similarity + length
    agreement, keep the top-K (see block comment for the scale story)."""
    ranked = _snm_ranked_staged(spark, sf_dir)
    w = SNM_WINDOW
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("prefix").alias("pa"),
        F.col("n_chars").alias("len_a"),
        F.col("rn").alias("rna"),
        F.explode(
            F.array(
                F.floor((F.col("rn") - 1) / w),
                F.floor((F.col("rn") - 1) / w) + 1,
            )
        ).alias("jb"),
        # explicit-width repartition on the join key (r12 single-task
        # stage fix): the staged rank sliver is tiny in bytes, so the
        # block join's post-exchange stage -- which runs a full
        # 64-char levenshtein DP per window pair -- otherwise
        # collapses to one AQE-coalesced task (measured 673 ms of a
        # 940 ms wall in one task); per-pair DP cost scales with pair
        # count, not bytes, so the width is pinned by cores
    ).repartition(spark.sparkContext.defaultParallelism, "jb")
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("prefix").alias("pb"),
        F.col("n_chars").alias("len_b"),
        F.col("rn").alias("rnb"),
        F.floor((F.col("rn") - 1) / w).alias("jb"),
    )
    pairs = (
        left.join(right, "jb")
        .filter(
            (F.col("rnb") > F.col("rna"))
            & (F.col("rnb") <= F.col("rna") + (w - 1))
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("rnb") - F.col("rna")).cast("int").alias("window_dist"),
            F.levenshtein("pa", "pb").alias("dist"),
            F.greatest(F.length("pa"), F.length("pb")).alias("plen"),
            "len_a",
            "len_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "window_dist",
            # floor(x*1e6 + 0.5)/1e6 == the oracle's formula on the
            # same IEEE double -- no decimal-string HALF_UP divergence
            (
                F.floor(
                    (
                        0.7
                        * (
                            1
                            - F.col("dist").cast("double") / F.col("plen")
                        )
                        + 0.3
                        * (
                            F.least("len_a", "len_b").cast("double")
                            / F.greatest("len_a", "len_b")
                        )
                    )
                    * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("match_score"),
        )
    )
    return pairs.orderBy(
        F.col("match_score").desc(), "doc_a", "doc_b"
    ).limit(SNM_TOP_K)


# Bucket edges for the block-size histogram: fixed literals so the
# grouping key is bounded-cardinality by construction (collect-audit
# witness discipline) and both engines bucket identically.
BLOCK_SIZE_BUCKETS = (1, 2, 4, 8, 16, 32, 64, 128, 256)


@register(
    "blocking_saturation_audit",
    oracle=f"""
    WITH blocked AS (
        SELECT lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               CAST(COUNT(*) AS BIGINT) AS block_docs
        FROM documents
        GROUP BY 1, 2, 3
    ),
    bucketed AS (
        SELECT CASE
                 WHEN block_docs >= 256 THEN 256
                 WHEN block_docs >= 128 THEN 128
                 WHEN block_docs >= 64 THEN 64
                 WHEN block_docs >= 32 THEN 32
                 WHEN block_docs >= 16 THEN 16
                 WHEN block_docs >= 8 THEN 8
                 WHEN block_docs >= 4 THEN 4
                 WHEN block_docs >= 2 THEN 2
                 ELSE 1
               END AS size_bucket,
               block_docs
        FROM blocked
    )
    SELECT CAST(size_bucket AS INT) AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(block_docs) AS BIGINT) AS n_docs,
           CAST(SUM(block_docs * (block_docs - 1) / 2) AS BIGINT)
               AS n_pairs
    FROM bucketed
    GROUP BY size_bucket
    ORDER BY size_bucket
    """,
)
def blocking_saturation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size histogram for the ER blocking keys (lang,
    length-block, first-token), with the implied candidate-pair count
    per size bucket -- the audit a 100 TB corpus runs BEFORE an ER pass
    (SCALE.md lesson #7: a blocking key with bounded cardinality
    saturates as the corpus grows, and a saturated block is quadratic
    work no per-candidate efficiency can absorb; the x100 probe
    measured 26.5M candidate pairs packed into 15 blocks).  One
    aggregate over the corpus, grouped to the fixed bucket-edge grain:
    reading the top bucket's n_pairs tells you the comparison bill
    before you pay it, and whether the key needs extending.

    Reference scope: the reference has no blocking audit (its dedup is
    exact key equality, big_data/scripts/duplicate_checker.py); this
    belongs to the repo's mandated LLM-data surface."""
    from wsu_cpts_415_spark.io.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    blocks = docs.groupBy(
        "lang",
        (F.col("n_chars") / LEV_BLOCK_CHARS).cast("bigint").alias("blk"),
        F.split("text", " ").getItem(0).alias("tok0"),
    ).agg(F.count("*").alias("block_docs"))
    edges = list(BLOCK_SIZE_BUCKETS)
    bucket = F.lit(1)
    for e in edges[1:]:
        bucket = F.when(F.col("block_docs") >= e, e).otherwise(bucket)
    return (
        blocks.select(
            bucket.cast("int").alias("size_bucket"), "block_docs"
        )
        .groupBy("size_bucket")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("block_docs").alias("n_docs"),
            F.sum(
                F.col("block_docs") * (F.col("block_docs") - 1) / 2
            )
            .cast("bigint")
            .alias("n_pairs"),
        )
        .orderBy("size_bucket")
    )


@register(
    "blocking_key_extension_audit",
    oracle=f"""
    WITH k1 AS (
        SELECT lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               CAST(COUNT(*) AS BIGINT) AS bd
        FROM documents GROUP BY 1, 2, 3
    ),
    k2 AS (
        SELECT lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               string_split(text, ' ')[2] AS tok1,
               CAST(COUNT(*) AS BIGINT) AS bd
        FROM documents GROUP BY 1, 2, 3, 4
    )
    SELECT * FROM (
        SELECT 'lang_blk_tok0' AS blocking_key,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(MAX(bd) AS BIGINT) AS max_block_docs,
               CAST(SUM(bd * (bd - 1) / 2) AS BIGINT) AS candidate_pairs
        FROM k1
        UNION ALL
        SELECT 'lang_blk_tok0_tok1',
               CAST(COUNT(*) AS BIGINT),
               CAST(MAX(bd) AS BIGINT),
               CAST(SUM(bd * (bd - 1) / 2) AS BIGINT)
        FROM k2
    ) ORDER BY blocking_key
    """,
)
def blocking_key_extension_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lesson-#7 DIAL, measured: candidate-pair count under the
    deployed ER blocking key (lang, length-block, first-token) vs the
    same key extended by one more token -- the exact move SCALE.md
    lesson #7 prescribes when `blocking_saturation_audit` shows a
    saturated block ("extend the key until max block size is bounded").
    One grouped aggregate per arity over the corpus; reading the two
    candidate_pairs values side by side is the recall-vs-cost quote for
    the extension before an ER pass commits to it."""
    from wsu_cpts_415_spark.io.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        (F.col("n_chars") / LEV_BLOCK_CHARS).cast("bigint").alias("blk"),
        F.split("text", " ").getItem(0).alias("tok0"),
        # F.get: ANSI-safe on one-token docs (NULL, grouped as the
        # oracle's NULL string_split(...)[2] group)
        F.get(F.split("text", " "), 1).alias("tok1"),
    )

    def arity(name: str, keys: list[str]) -> DataFrame:
        return (
            toks.groupBy(*keys)
            .agg(F.count("*").alias("bd"))
            .agg(
                F.count("*").alias("n_blocks"),
                F.max("bd").alias("max_block_docs"),
                F.sum(F.col("bd") * (F.col("bd") - 1) / 2)
                .cast("bigint")
                .alias("candidate_pairs"),
            )
            .select(
                F.lit(name).alias("blocking_key"),
                "n_blocks",
                "max_block_docs",
                "candidate_pairs",
            )
        )

    return arity("lang_blk_tok0", ["lang", "blk", "tok0"]).unionByName(
        arity("lang_blk_tok0_tok1", ["lang", "blk", "tok0", "tok1"])
    ).orderBy("blocking_key")


@register(
    "er_blocking_recall_audit",
    oracle=f"""
    WITH sh AS (
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
        FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truep AS (
        -- exact rational J >= 4/5: 9*n_common >= 4*(na+nb)
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
        WHERE 9 * n_common >= 4 * (sa.n_sh + sb.n_sh)
    ),
    keys AS (
        SELECT doc_id, lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               COALESCE(string_split(text, ' ')[2], '') AS tok1
        FROM documents
    ),
    flags AS (
        SELECT CASE WHEN ka.lang = kb.lang AND ka.blk = kb.blk
                     AND ka.tok0 = kb.tok0 THEN 1 ELSE 0 END AS c1,
               CASE WHEN ka.lang = kb.lang AND ka.blk = kb.blk
                     AND ka.tok0 = kb.tok0 AND ka.tok1 = kb.tok1
                    THEN 1 ELSE 0 END AS c2
        FROM truep
        JOIN keys ka ON ka.doc_id = truep.doc_a
        JOIN keys kb ON kb.doc_id = truep.doc_b
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM flags
    )
    SELECT * FROM (
        SELECT 'lang_blk_tok0' AS blocking_key,
               n_true AS n_true_pairs, n1 AS n_covered,
               ROUND(n1 * 1.0 / NULLIF(n_true, 0), 6) AS recall
        FROM tot
        UNION ALL
        SELECT 'lang_blk_tok0_tok1', n_true, n2,
               ROUND(n2 * 1.0 / NULLIF(n_true, 0), 6)
        FROM tot
    ) ORDER BY blocking_key
    """,
)
def er_blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking RECALL against exact near-dup ground truth, per key
    arity: of the pairs with true shingle-Jaccard >= 4/5 (the PPJoin+
    kernel's output -- the only exact ground truth a 100 TB calibration
    can afford), what fraction lands in the same block under the
    one-token key vs the deployed two-token key.  The cost side of the
    same dial is ``blocking_key_extension_audit`` (x100: 37x fewer
    candidates for +tok1); this is the recall side, so the round-9 key
    deployment is a measured trade, not an assertion.  Ground-truth
    pair count is corpus-bounded (near-dup slivers), the key attach is
    two joins against a doc-grain projection, and the rollup is one
    aggregate."""
    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.queries.ssjoin import ssjoin_pairs_above

    truep = ssjoin_pairs_above(spark, sf_dir, 4, 5).select("doc_a", "doc_b")
    keys = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / LEV_BLOCK_CHARS).cast("bigint").alias("blk"),
        F.split("text", " ").getItem(0).alias("tok0"),
        F.coalesce(F.get(F.split("text", " "), 1), F.lit("")).alias("tok1"),
    )
    ka = keys.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in ("lang", "blk", "tok0", "tok1")],
    )
    kb = keys.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in ("lang", "blk", "tok0", "tok1")],
    )
    k1 = (
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("blk_a") == F.col("blk_b"))
        & (F.col("tok0_a") == F.col("tok0_b"))
    )
    k2 = k1 & (F.col("tok1_a") == F.col("tok1_b"))
    tot = (
        truep.join(ka, "doc_a")
        .join(kb, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(F.sum(k1.cast("long")), F.lit(0)).alias("n1"),
            F.coalesce(F.sum(k2.cast("long")), F.lit(0)).alias("n2"),
        )
    )
    return tot.selectExpr(
        "stack(2, 'lang_blk_tok0', n1, 'lang_blk_tok0_tok1', n2)"
        " AS (blocking_key, n_covered)",
        "n_true AS n_true_pairs",
    ).select(
        "blocking_key",
        "n_true_pairs",
        "n_covered",
        F.round(
            F.try_divide("n_covered", F.nullif(F.col("n_true_pairs"), F.lit(0))),
            6,
        ).alias("recall"),
    ).orderBy("blocking_key")


@register(
    "er_multipass_recall",
    oracle=f"""
    WITH {{LSH}},
    tex AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]
               ))) AS shingle
        FROM documents
    ),
    tsz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM tex GROUP BY doc_id
    ),
    tin AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM tex a
        JOIN tex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truep AS (
        SELECT doc_a, doc_b
        FROM tin
        JOIN tsz sa ON sa.doc_id = tin.doc_a
        JOIN tsz sb ON sb.doc_id = tin.doc_b
        WHERE 9 * n_common >= 4 * (sa.n_sh + sb.n_sh)
    ),
    keysx AS (
        SELECT doc_id, lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               COALESCE(string_split(text, ' ')[2], '') AS tok1,
               substr(text, 1, {LEV_PREFIX}) AS prefix
        FROM documents
    ),
    levp AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS m
        FROM keysx a
        JOIN keysx b
          ON a.lang = b.lang AND a.blk = b.blk AND a.tok0 = b.tok0
         AND a.tok1 = b.tok1 AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= {LEV_MAX_DIST}
    ),
    snmk AS (SELECT doc_id, {_SNM_KEY_DUCK} AS skey FROM documents),
    snmr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY skey) AS rn FROM snmk
    ),
    snmp AS (
        SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b, 1 AS m
        FROM snmr a
        JOIN snmr b ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW - 1}
    ),
    lshc AS (SELECT DISTINCT doc_a, doc_b, 1 AS m FROM cand),
    flags AS (
        SELECT CASE WHEN lv.m IS NOT NULL THEN 1 ELSE 0 END AS c_lev,
               CASE WHEN sp.m IS NOT NULL THEN 1 ELSE 0 END AS c_snm,
               CASE WHEN cd.m IS NOT NULL THEN 1 ELSE 0 END AS c_lsh
        FROM truep t
        LEFT JOIN levp lv ON lv.doc_a = t.doc_a AND lv.doc_b = t.doc_b
        LEFT JOIN snmp sp ON sp.doc_a = t.doc_a AND sp.doc_b = t.doc_b
        LEFT JOIN lshc cd ON cd.doc_a = t.doc_a AND cd.doc_b = t.doc_b
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c_lev) AS BIGINT) AS nl,
               CAST(SUM(c_snm) AS BIGINT) AS ns,
               CAST(SUM(c_lsh) AS BIGINT) AS nh,
               CAST(SUM(CASE WHEN c_lev + c_snm + c_lsh > 0 THEN 1
                             ELSE 0 END) AS BIGINT) AS nu
        FROM flags
    )
    SELECT * FROM (
        SELECT 'lev_block' AS blocking_pass, n AS n_true_pairs,
               nl AS n_covered, ROUND(nl * 1.0 / NULLIF(n, 0), 6) AS recall
        FROM tot
        UNION ALL
        SELECT 'lsh_bands', n, nh, ROUND(nh * 1.0 / NULLIF(n, 0), 6) FROM tot
        UNION ALL
        SELECT 'snm_window', n, ns, ROUND(ns * 1.0 / NULLIF(n, 0), 6) FROM tot
        UNION ALL
        SELECT 'union', n, nu, ROUND(nu * 1.0 / NULLIF(n, 0), 6) FROM tot
    ) ORDER BY blocking_pass
    """.format(LSH=LSH_PAIRS_DUCK_CTES),
)
def er_multipass_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocking recall -- the claim every blocking docstring
    makes ("production stacks several passes with different keys to
    recover blocking misses", Christen 2012), finally DEMONSTRATED as a
    measurement: recall of each deployed candidate GENERATOR (lev key
    blocking, sorted-neighborhood window, MinHash-LSH bands) against
    exact J >= 4/5 ground truth, plus the recall of their UNION.  The
    three generators miss differently by construction -- the lev key
    misses pairs differing in leading tokens, SNM misses pairs far
    apart under the sort key, LSH misses only by signature chance --
    so the union is the number a production ER pass actually operates
    at, and the per-pass rows price each generator's contribution.

    Scale posture: ground truth from the PPJoin+ kernel (linear
    funnel), each candidate set is its deployed generator's own bounded
    output, coverage is three broadcast-size left joins at the
    true-pair sliver's grain, rollup is one aggregate."""
    from wsu_cpts_415_spark.queries.similarity import lsh_band_candidates
    from wsu_cpts_415_spark.queries.ssjoin import ssjoin_pairs_above

    truep = ssjoin_pairs_above(spark, sf_dir, 4, 5).select("doc_a", "doc_b")
    lev = (
        lev_candidates(spark, sf_dir)
        .select("doc_a", "doc_b", F.lit(1).alias("m_lev"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    snm = (
        snm_window_pairs(spark, sf_dir)
        .withColumn("m_snm", F.lit(1))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    lsh = lsh_band_candidates(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("m_lsh")
    )
    flags = (
        truep.join(lev, ["doc_a", "doc_b"], "left")
        .join(snm, ["doc_a", "doc_b"], "left")
        .join(lsh, ["doc_a", "doc_b"], "left")
        .select(
            F.coalesce("m_lev", F.lit(0)).alias("c_lev"),
            F.coalesce("m_snm", F.lit(0)).alias("c_snm"),
            F.coalesce("m_lsh", F.lit(0)).alias("c_lsh"),
        )
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("c_lev"), F.lit(0)).alias("nl"),
        F.coalesce(F.sum("c_snm"), F.lit(0)).alias("ns"),
        F.coalesce(F.sum("c_lsh"), F.lit(0)).alias("nh"),
        F.coalesce(
            F.sum(
                (
                    (F.col("c_lev") + F.col("c_snm") + F.col("c_lsh")) > 0
                ).cast("long")
            ),
            F.lit(0),
        ).alias("nu"),
    )
    return tot.selectExpr(
        "stack(4, 'lev_block', nl, 'lsh_bands', nh, 'snm_window', ns,"
        " 'union', nu) AS (blocking_pass, n_covered)",
        "n AS n_true_pairs",
    ).select(
        "blocking_pass",
        "n_true_pairs",
        "n_covered",
        F.round(
            F.try_divide(
                "n_covered", F.nullif(F.col("n_true_pairs"), F.lit(0))
            ),
            6,
        ).alias("recall"),
    ).orderBy("blocking_pass")


def snm_window_pairs(
    spark: SparkSession, sf_dir: str, w: int = SNM_WINDOW
) -> DataFrame:
    """SNM candidate pairs (doc_a < doc_b normalized) at window ``w``:
    every record paired with its w-1 successors under the SNM sort key,
    via the rank-block equi-join (each left row replicated to its own
    and the next block, so no range-condition nested loop).  Shared by
    the multi-pass candidate union, the multi-pass recall audit, and
    a window-size sweep (recall-vs-cost is a dial: candidates are
    exactly (w-1)*n - boundary, linear in w)."""
    ranked = _snm_ranked_staged(spark, sf_dir)
    left = ranked.select(
        F.col("doc_id").alias("ida"),
        F.col("rn").alias("rna"),
        F.explode(
            F.array(
                F.floor((F.col("rn") - 1) / w),
                F.floor((F.col("rn") - 1) / w) + 1,
            )
        ).alias("jb"),
    )
    right = ranked.select(
        F.col("doc_id").alias("idb"),
        F.col("rn").alias("rnb"),
        F.floor((F.col("rn") - 1) / w).alias("jb"),
    )
    return (
        left.join(right, "jb")
        .filter(
            (F.col("rnb") > F.col("rna"))
            & (F.col("rnb") <= F.col("rna") + (w - 1))
        )
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
        )
    )


def _multipass_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped union of the deployed candidate generators (doc_a < doc_b
    normalized): lev-key blocking + MinHash-LSH bands.  Each input is
    its generator's own bounded funnel; the union is a distinct over id
    pairs only (no payload columns shuffle).

    SNM's seat was re-priced OUT in round 11 (round-10 verdict): the
    standing window sweep measured its marginal recall over lev+LSH at
    ZERO for every window w=5/10/20 at both x10 and x100 while it
    contributed ~2M of 17.6M x100 candidates (~11% of linear scoring
    cost) -- the deployed default is the measured frontier.
    ``sorted_neighborhood_pairs`` stays as the taught standalone pass;
    on a corpus where a window sweep measures nonzero marginal, add
    ``snm_window_pairs`` back to this union."""
    from wsu_cpts_415_spark.queries.similarity import lsh_band_candidates

    lev = lev_candidates(spark, sf_dir).select("doc_a", "doc_b")
    lsh = lsh_band_candidates(spark, sf_dir).select("doc_a", "doc_b")
    # Explicit-width repartition ON THE DISTINCT KEY, reused by the
    # dropDuplicates aggregate (one exchange total).  Without it AQE
    # coalesces the distinct's exchange by BYTES -- ~1 MB of id pairs at
    # sf0.1 collapses to ONE partition -- and the downstream per-pair
    # scorer (64-char levenshtein DP + shingle-hash intersection per
    # candidate) runs single-task: measured 2.1 s of a 2.8 s wall in one
    # task (r12 stage probe).  Candidate scoring cost scales with PAIR
    # COUNT, not pair bytes, so the stage width must be pinned by
    # available cores, not byte-size heuristics (guide §2.5: synthetic
    # small-bytes partitions starving CPU-bound work).  A user-specified
    # repartition width is exempt from AQE coalescing by contract.
    # Measured at sf0.1: er_multipass_match_scores 2.77 -> 0.83 s,
    # byte-identical output.
    parts = spark.sparkContext.defaultParallelism
    return (
        lev.unionByName(lsh)
        .repartition(parts, "doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _er_side_prefix_h64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE doc-grain ER scoring side table (prefix + n_chars +
    compact shingle hashes) behind the gated broadcast shared by
    ``er_multipass_match_scores`` and ``er_incremental_batch_scores``.
    Factored here (r13, ADVICE closure) so the shared gate
    ``stats_key`` provably covers one frame: the two sites previously
    built byte-identical projections independently, and a later drift
    in either would have let one site's memoized (rows, bytes) drive
    the other's broadcast decision -- including the byte-based OOM
    guard."""
    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast
    from wsu_cpts_415_spark.queries.similarity import _h64_staged
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    return maybe_broadcast(
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring("text", 1, LEV_PREFIX).alias("prefix"),
            "n_chars",
        )
        .join(_h64_staged(spark, sf_dir), "doc_id"),
        DOC_SIDE_BCAST_ROWS,
        stats_key=("er_side_prefix_h64", sf_dir),
    )


@register(
    "er_multipass_match_scores",
    oracle=f"""
    WITH {{LSH}},
    keysx AS (
        SELECT doc_id, lang,
               CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               string_split(text, ' ')[1] AS tok0,
               COALESCE(string_split(text, ' ')[2], '') AS tok1,
               substr(text, 1, {LEV_PREFIX}) AS prefix,
               n_chars AS len_chars
        FROM documents
    ),
    levp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keysx a
        JOIN keysx b
          ON a.lang = b.lang AND a.blk = b.blk AND a.tok0 = b.tok0
         AND a.tok1 = b.tok1 AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= {LEV_MAX_DIST}
    ),
    allc AS (
        SELECT doc_a, doc_b FROM levp
        UNION
        SELECT doc_a, doc_b FROM cand
    ),
    feat AS (
        SELECT c.doc_a, c.doc_b,
               levenshtein(ka.prefix, kb.prefix) AS dist,
               GREATEST(GREATEST(length(ka.prefix), length(kb.prefix)), 1)
                   AS plen,
               ka.len_chars AS len_a, kb.len_chars AS len_b
        FROM allc c
        JOIN keysx ka ON ka.doc_id = c.doc_a
        JOIN keysx kb ON kb.doc_id = c.doc_b
    ),
    {_DUCK_EXACT_PAIRS}
    SELECT f.doc_a, f.doc_b,
           -- floor(x*1e6 + 0.5)/1e6: identical IEEE rounding in both
           -- engines (plain ROUND diverges on half-points via Spark's
           -- decimal-string HALF_UP)
           FLOOR(({W_EDIT} * (1 - CAST(f.dist AS DOUBLE) / f.plen)
                  + {W_JAC} * COALESCE(j.jaccard, 0)
                  + {W_LEN} * (LEAST(f.len_a, f.len_b) * 1.0
                               / GREATEST(f.len_a, f.len_b)))
                 * 1000000 + 0.5) / 1000000.0 AS match_score,
           CAST(f.dist AS INT) AS dist,
           ROUND(COALESCE(j.jaccard, 0), 6) AS jaccard
    FROM feat f
    LEFT JOIN jac j ON j.doc_a = f.doc_a AND j.doc_b = f.doc_b
    ORDER BY match_score DESC, f.doc_a, f.doc_b
    LIMIT {ER_TOP_K}
    """.format(LSH=LSH_PAIRS_DUCK_CTES),
)
def er_multipass_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ER match query: union of the deployed
    candidate generators (lev-key blocking + MinHash-LSH bands) ->
    distinct pairs -> the same composite scorer as ``er_match_scores``
    ({W_EDIT} * prefix-edit similarity + {W_JAC} * shingle Jaccard +
    {W_LEN} * length agreement) -> top-{ER_TOP_K}.

    Why it exists: ``er_multipass_recall`` MEASURED the single lev pass
    at 0.307 blocking recall against exact J >= 4/5 ground truth while
    the multi-generator union reaches 0.9997 (x100, round 9) -- the
    generators miss
    differently (lev: leading-token edits; LSH: signature chance only),
    so production record linkage scores the UNION (Christen 2012's
    multi-pass blocking).  This query turns that measurement into the
    deployed path.  The union is lev+LSH only: the SNM window pass was
    re-priced out in round 11 after the standing sweep measured its
    marginal recall over lev+LSH at zero for every window at both probe
    scales (see ``_multipass_candidates``).

    Scale posture: candidates are the union of bounded funnels --
    never all-pairs -- deduped on id pairs alone (no payloads in the
    distinct's shuffle); feature attach is two joins against a
    doc-grain projection and the Jaccard attach intersects compact
    64-bit shingle-hash arrays per candidate (both sides broadcast
    under the SSJoin doc-side bound, shuffle fallback above it);
    scoring is row-local arithmetic and the top-k is
    TakeOrderedAndProject.  Unlike ``er_match_scores`` the edit
    distance here is UNBOUNDED (SNM/LSH candidates legitimately exceed
    {LEV_MAX_DIST}; a large dist just scores low) -- cost is the same
    O(|prefix|^2) banded DP per candidate."""
    cand = _multipass_candidates(spark, sf_dir)
    # ONE combined doc-grain side table (prefix + length + compact
    # shingle hashes) attached with ONE join per pair endpoint -- r12
    # fused the previous keys-then-compact shape (4 joins, 2 broadcast
    # builds, 2 gate actions) into 2 joins over 1 gated broadcast whose
    # exchange is reused for both sides (guide §3.1: fewer, cheaper
    # builds; measured ~3x on the attach stage at sf0.1).  The doc-grain
    # join adding h64 is linear and happens once, inside the build
    # (shared with er_incremental_batch_scores via _er_side_prefix_h64).
    side = _er_side_prefix_h64(spark, sf_dir)
    scored = (
        cand.join(
            side.select(
                F.col("doc_id").alias("doc_a"),
                F.col("prefix").alias("pa"),
                F.col("n_chars").alias("len_a"),
                F.col("h64").alias("hs_a"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("doc_b"),
                F.col("prefix").alias("pb"),
                F.col("n_chars").alias("len_b"),
                F.col("h64").alias("hs_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("dist"),
            F.greatest(
                F.greatest(F.length("pa"), F.length("pb")), F.lit(1)
            ).alias("plen"),
            "len_a",
            "len_b",
            "hs_a",
            "hs_b",
        )
        .withColumn("ncomm", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.coalesce(
                F.round(
                    F.col("ncomm").cast("double")
                    / (
                        F.size("hs_a")
                        + F.size("hs_b")
                        - F.col("ncomm")
                    ),
                    6,
                ),
                F.lit(0.0),
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            # floor(x*1e6 + 0.5)/1e6 == the oracle's formula on the
            # same IEEE double -- no decimal-string HALF_UP divergence
            (
                F.floor(
                    (
                        W_EDIT
                        * (
                            1
                            - F.col("dist").cast("double") / F.col("plen")
                        )
                        + W_JAC * F.col("jaccard")
                        + W_LEN
                        * (
                            F.least("len_a", "len_b")
                            / F.greatest("len_a", "len_b").cast("double")
                        )
                    )
                    * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("match_score"),
            F.col("dist").cast("int").alias("dist"),
            "jaccard",
        )
    )
    return scored.orderBy(
        F.col("match_score").desc(), "doc_a", "doc_b"
    ).limit(ER_TOP_K)


# ---------------------------------------------------------------------------
# Incremental ER: score an ARRIVING batch against the standing corpus.
# The batch-vs-corpus asymmetry existed for LSH near-dup admission
# (queries/dedup_policy.py incremental_neardup_check*) but ER match
# scoring only had whole-corpus faces -- a production linkage pipeline
# scores each ingest sliver against the standing corpus without
# re-pairing the corpus.  Candidates come from the DURABLY STAGED LSH
# band table (ops/staging.py staged_table, persisted across sessions),
# so a restarted session's per-batch cost is one staged read plus work
# linear in the batch's collisions -- never a corpus rebuild.


@register(
    "er_incremental_batch_scores",
    oracle=f"""
    WITH {LSH_PAIRS_DUCK_CTES},
    bucketed AS (
        SELECT doc_id, {_DUCK_BUCKET_100} AS bucket FROM documents
    ),
    newb AS (
        SELECT b.* FROM bands b JOIN bucketed k ON k.doc_id = b.doc_id
        WHERE k.bucket >= {NEW_BATCH_BUCKET}
    ),
    oldb AS (
        SELECT b.* FROM bands b JOIN bucketed k ON k.doc_id = b.doc_id
        WHERE k.bucket < {NEW_BATCH_BUCKET}
    ),
    cand2 AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
        FROM newb n
        JOIN oldb o ON n.b = o.b AND n.h1 = o.h1 AND n.h2 = o.h2
    ),
    meta AS (
        SELECT doc_id, substr(text, 1, {LEV_PREFIX}) AS prefix, n_chars
        FROM documents
    ),
    verified AS (
        SELECT c.new_doc, c.old_doc,
               ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles))
                          AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_intersect(sa.shingles, sb.shingles))), 6)
                   AS jaccard
        FROM cand2 c
        JOIN sh sa ON sa.doc_id = c.new_doc
        JOIN sh sb ON sb.doc_id = c.old_doc
    )
    SELECT v.new_doc, v.old_doc,
           ROUND({W_EDIT} * (1 - CAST(levenshtein(ma.prefix, mb.prefix)
                                      AS DOUBLE)
                                 / GREATEST(length(ma.prefix),
                                            length(mb.prefix)))
                 + {W_JAC} * v.jaccard
                 + {W_LEN} * (LEAST(ma.n_chars, mb.n_chars) * 1.0
                              / GREATEST(ma.n_chars, mb.n_chars)), 6)
               AS match_score,
           CAST(levenshtein(ma.prefix, mb.prefix) AS INT) AS dist,
           v.jaccard
    FROM verified v
    JOIN meta ma ON ma.doc_id = v.new_doc
    JOIN meta mb ON mb.doc_id = v.old_doc
    ORDER BY match_score DESC, v.new_doc, v.old_doc
    LIMIT {ER_TOP_K}
    """,
)
def er_incremental_batch_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{ER_TOP_K} (new_doc, old_doc) match scores of the arriving
    batch (md5 bucket >= NEW_BATCH_BUCKET, the same 10% sliver the
    incremental near-dup check uses) against the STANDING corpus, with
    the same composite score as ``er_match_scores``: {W_EDIT} *
    prefix-edit similarity + {W_JAC} * shingle Jaccard + {W_LEN} *
    length agreement.

    Plan shape: both band sides read the durably staged band table; the
    batch side (sliver-grain) rides the row+byte-gated broadcast so the
    corpus band table is scanned but NEVER shuffled, candidates are
    de-duplicated at (new_doc, old_doc) grain before any scoring
    signal attaches, and the prefix/length/shingle attachments are
    doc-grain gated broadcasts.  Per-batch cost is linear in band
    collisions, independent of corpus pair count -- the ER face of the
    admission-gate asymmetry.

    The Jaccard signal intersects staged 64-bit shingle hashes while
    the oracle intersects exact string shingles -- the same
    ~|A||B|/2^64 collision-bound adjudication as ``er_match_scores``
    (conformance would surface any hit).  Levenshtein runs on the
    same {LEV_PREFIX}-char prefixes in both engines; LSH candidates
    always carry non-empty shingle sets and prefixes, so no 0/0 edge
    enters the score."""
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast
    from wsu_cpts_415_spark.queries.corpus_ops import _SPARK_BUCKET
    from wsu_cpts_415_spark.queries.dedup_policy import NEW_BATCH_BUCKET
    from wsu_cpts_415_spark.queries.similarity import _bands_staged
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    bucket = F.expr(_SPARK_BUCKET.format(m=100))
    bands = _bands_staged(spark, sf_dir).withColumn("bucket", bucket)
    newb = (
        bands.filter(F.col("bucket") >= NEW_BATCH_BUCKET)
        .select(F.col("doc_id").alias("new_doc"), "b", "h1", "h2")
    )
    oldb = bands.filter(F.col("bucket") < NEW_BATCH_BUCKET).select(
        F.col("doc_id").alias("old_doc"), "b", "h1", "h2"
    )
    # explicit-width repartition on the distinct key (same r12 fix as
    # _multipass_candidates): the candidate id-pair table is tiny in
    # BYTES, so AQE coalesces the distinct exchange to ~1 partition and
    # the downstream per-pair scorer (levenshtein DP + hash-array
    # intersection) runs single-task; scoring cost scales with PAIR
    # COUNT, so the stage width is pinned by cores, not byte heuristics
    cand = (
        oldb.join(
            maybe_broadcast(
                newb, DOC_SIDE_BCAST_ROWS, stats_key=("er_inc_newb", sf_dir)
            ),
            ["b", "h1", "h2"],
        )
        .select("new_doc", "old_doc")
        .repartition(
            spark.sparkContext.defaultParallelism, "new_doc", "old_doc"
        )
        .dropDuplicates(["new_doc", "old_doc"])
    )
    # same r12 fusion as er_multipass_match_scores: ONE combined
    # doc-grain side table (prefix + n_chars + h64), one gated
    # broadcast reused by both endpoint joins -- was 4 joins over 2
    # broadcast builds (compact, meta) with 2 gate actions; the build
    # is the factored _er_side_prefix_h64 both sites share
    side = _er_side_prefix_h64(spark, sf_dir)
    scored = (
        cand.join(
            side.select(
                F.col("doc_id").alias("new_doc"),
                F.col("prefix").alias("pfx_a"),
                F.col("n_chars").alias("len_a"),
                F.col("h64").alias("hs_a"),
            ),
            "new_doc",
        )
        .join(
            side.select(
                F.col("doc_id").alias("old_doc"),
                F.col("prefix").alias("pfx_b"),
                F.col("n_chars").alias("len_b"),
                F.col("h64").alias("hs_b"),
            ),
            "old_doc",
        )
        .withColumn("ncomm", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("ncomm").cast("double")
                / (F.size("hs_a") + F.size("hs_b") - F.col("ncomm")),
                6,
            ),
        )
        .withColumn("dist", F.levenshtein("pfx_a", "pfx_b"))
        .withColumn("plen", F.greatest(F.length("pfx_a"), F.length("pfx_b")))
        .select(
            "new_doc",
            "old_doc",
            F.round(
                W_EDIT * (1 - F.col("dist").cast("double") / F.col("plen"))
                + W_JAC * F.col("jaccard")
                + W_LEN
                * (
                    F.least("len_a", "len_b")
                    / F.greatest("len_a", "len_b").cast("double")
                ),
                6,
            ).alias("match_score"),
            F.col("dist").cast("int").alias("dist"),
            "jaccard",
        )
    )
    return scored.orderBy(
        F.col("match_score").desc(), "new_doc", "old_doc"
    ).limit(ER_TOP_K)
