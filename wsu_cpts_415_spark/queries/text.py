"""Text-analysis operators over the ``documents`` table -- the
LLM-training-data-pipeline surface (BASELINE.json north star; SURVEY.md §7.2
P7): tokenization, quality scoring, language-ID, fingerprinting, exact and
near-duplicate detection.

Implementation policy (100 TB posture): everything per-document is a
higher-order array expression (split / transform / aggregate / filter) --
zero Python UDFs, zero shuffles until an explicit cross-document step
(dedup join, LSH bucket join).  Cross-engine determinism comes from
md5-derived integer hashes (md5 is identical in Spark and DuckDB; hex ->
bigint via conv / '0x'-cast).

``lang_source_rollup`` and ``dedup_exact`` are written once, as their
oracle SQL: Spark runs that text verbatim over the fixture views
(``registry.register_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.ops.scalable_rank import (
    SCALABLE_RANK_ROWS,
    tiefree_global_row_number,
)
from wsu_cpts_415_spark.registry import register, register_sql

# A deterministic "stopword" list drawn from the fixture vocabulary
# (function words + generic fillers).
STOPWORDS = ("a", "the", "value", "data", "table", "row")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Language marker words for the n-gram-ish language-ID heuristic: each
# language is scored by its marker-word occurrence count; argmax wins with
# alphabetical tie-break.  (Real lang-ID uses char n-gram profiles; the
# fixture text is synthetic word soup, so markers stand in for profiles --
# the *operator shape* -- score columns + greatest + tie-break -- is the
# deliverable.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "das", "batch", "group"),
    "en": ("the", "a", "fast", "query"),
    "es": ("el", "la", "los", "scan", "sort"),
    "fr": ("le", "la", "les", "merge", "join"),
    "zh": ("spark", "stream", "window"),
}

TOKENS = "split(text, ' ')"
# 32-bit token hash from the md5 hex prefix -- identical in both engines.
_SPARK_H32 = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint)"
_DUCK_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           n_chars,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics -- the basic text profiling
    pass.  All expressions are codegen'd array ops on the row; the only
    exchange is the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size({TOKENS})").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        "n_chars",
        F.round(
            F.expr("cast(length(replace(text, ' ', '')) as double)")
            / F.expr(f"size({TOKENS})"),
            6,
        ).alias("avg_token_len"),
        F.expr(f"size(array_distinct({TOKENS}))").alias("n_unique_tokens"),
    ).orderBy("doc_id")


@register(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS ws_tokens,
           CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels,
           CAST(len(regexp_split_to_array(text, '[^a-z0-9]+')) AS INT) AS bpe_ish_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting via regex (whitespace + a BPE-ish alnum-run
    tokenizer) -- north-star token-count operator."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(r"size(split(text, '\\s+'))").alias("ws_tokens"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).cast("bigint").alias("n_vowels"),
        F.expr(r"size(split(text, '[^a-z0-9]+'))").alias("bpe_ish_tokens"),
    ).orderBy("doc_id")


register_sql(
    "lang_source_rollup",
    """Corpus composition rollup by language x source -- the partition
    audit every training-data pipeline starts with.""",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)


# Reusable CTE ending in ``qual(doc_id, stop_ratio, unique_ratio,
# len_band, quality)`` -- selected by the registered query and composed
# into the curation-funnel oracle (queries/curation.py).
QUALITY_DUCK_CTES = f"""qual AS (
        SELECT doc_id,
               ROUND(stop_ratio, 6) AS stop_ratio,
               ROUND(unique_ratio, 6) AS unique_ratio,
               len_band,
               ROUND(0.4 * (1 - stop_ratio) + 0.4 * unique_ratio
                     + 0.2 * CASE len_band WHEN 'good' THEN 1.0
                                           WHEN 'short' THEN 0.3 ELSE 0.6 END,
                     6) AS quality
        FROM (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS unique_ratio,
                   CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
                        WHEN len(string_split(text, ' ')) <= 60 THEN 'good'
                        ELSE 'long' END AS len_band
            FROM documents
        )
    )"""


@register(
    "quality_score",
    oracle=f"""
    WITH {QUALITY_DUCK_CTES}
    SELECT doc_id, stop_ratio, unique_ratio, len_band, quality
    FROM qual
    ORDER BY doc_id
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score: stopword ratio, vocabulary
    diversity, length band -- combined with fixed weights (the
    C4/Gopher-rule shape).  Pure array expressions per row."""
    docs = load_table(spark, sf_dir, "documents")
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    scored = docs.select(
        "doc_id",
        F.expr(
            f"cast(size(filter({TOKENS}, t -> t in ({in_list}))) as double)"
            f" / size({TOKENS})"
        ).alias("stop_ratio"),
        F.expr(
            f"cast(size(array_distinct({TOKENS})) as double) / size({TOKENS})"
        ).alias("unique_ratio"),
        F.expr(
            f"CASE WHEN size({TOKENS}) < 40 THEN 'short'"
            f" WHEN size({TOKENS}) <= 60 THEN 'good' ELSE 'long' END"
        ).alias("len_band"),
    )
    return scored.select(
        "doc_id",
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("unique_ratio", 6).alias("unique_ratio"),
        "len_band",
        F.round(
            0.4 * (1 - F.col("stop_ratio"))
            + 0.4 * F.col("unique_ratio")
            + 0.2
            * F.when(F.col("len_band") == "good", 1.0)
            .when(F.col("len_band") == "short", 0.3)
            .otherwise(0.6),
            6,
        ).alias("quality"),
    ).orderBy("doc_id")


def _lang_score_sql(markers: tuple[str, ...], dialect: str) -> str:
    in_list = ", ".join(f"'{w}'" for w in markers)
    if dialect == "spark":
        return f"size(filter(split(text, ' '), t -> t in ({in_list})))"
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({in_list})))"


@register(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang, pred_lang,
           CAST(best AS INT) AS marker_hits
    FROM (
        SELECT doc_id, lang,
               {" ".join(f"s_{code},") if False else ""}
               CASE
                 {" ".join(
                     f"WHEN s_{code} = best THEN '{code}'"
                     for code in sorted(LANG_MARKERS)
                 )}
               END AS pred_lang,
               best
        FROM (
            SELECT doc_id, lang,
                   {", ".join(
                       f"{_lang_score_sql(m, 'duck')} AS s_{code}"
                       for code, m in sorted(LANG_MARKERS.items())
                   )},
                   greatest({", ".join(
                       f"{_lang_score_sql(m, 'duck')}"
                       for code, m in sorted(LANG_MARKERS.items())
                   )}) AS best
            FROM documents
        )
    )
    ORDER BY doc_id
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token scoring: per-language hit counts,
    argmax with alphabetical tie-break (CASE evaluates codes in sorted
    order).  The operator shape for real char-n-gram profiles."""
    docs = load_table(spark, sf_dir, "documents")
    scores = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.expr(_lang_score_sql(m, "spark")).alias(f"s_{code}")
            for code, m in sorted(LANG_MARKERS.items())
        ],
    )
    best = F.greatest(*[F.col(f"s_{code}") for code in sorted(LANG_MARKERS)])
    pred = None
    for code in sorted(LANG_MARKERS):
        cond = F.col(f"s_{code}") == F.col("best")
        pred = F.when(cond, code) if pred is None else pred.when(cond, code)
    return (
        scores.withColumn("best", best)
        .select(
            "doc_id",
            "labeled_lang",
            pred.alias("pred_lang"),
            F.col("best").cast("int").alias("marker_hits"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                                  t -> {_DUCK_H32.format(x='t')})),
               (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    token hashes mod 1e9+7 (Rabin-Karp shape).  A reordered document gets
    a different fingerprint, unlike a bag-of-words hash."""
    docs = load_table(spark, sf_dir, "documents")
    h = _SPARK_H32.format(x="t")
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(transform({TOKENS}, t -> {h}), 0L,"
            " (acc, h) -> pmod(acc * 31 + h, 1000000007L))"
        ).alias("fingerprint"),
    ).orderBy("doc_id")


register_sql(
    "dedup_exact",
    """Exact deduplication audit: hash the full text (content key, not
    the row), keep the lowest doc_id per hash (deterministic first-writer
    -- stricter than the reference's insert-order Mongo dedup,
    mongo_loader.py:198-212), report kept/dropped counts.

    At 100 TB: the groupBy key is the 128-bit md5, so the shuffle carries
    hashes not documents; the keep-lowest rule is a min aggregation.""",
    """
    WITH keyed AS (
        SELECT doc_id, md5(text) AS text_hash,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text_hash) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
    FROM keyed
    """,
)


# Shingle CTE shared by the near-dup queries: distinct word bigrams/doc.
_DUCK_SHINGLES = """
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i + 1]
           ))) AS shingle
    FROM documents
"""
def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): one row per distinct bigram shingle.  Tokens are
    materialized through a Project first -- the inline form re-evaluates
    split(text) for every element access, O(tokens^2) per document
    (measured 4.2 s vs 0.4 s for this explode at sf0.1)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # zip_with over two slices, NOT transform(sequence(1, size-1), ...):
    # Spark's sequence(1, 0) counts DOWN to [1, 0] for a one-token doc
    # and element_at(toks, 0/2) throws under ANSI, where the oracle's
    # generate_series(1, 0) is simply empty (round-10 edge-population
    # catch; similarity.py's staged projection was guarded in round 9,
    # this direct form was not).  slice with length 0 is legally empty.
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(zip_with("
                "slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (x, y) -> concat(x, ' ', y)))"
            )
        ).alias("shingle"),
    )


def _shingle_rows_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rows as ``_shingle_rows`` but exploded from the session-cached
    (doc_id, shingles) projection shared with the minhash suite -- the
    split+shingle pass over the corpus runs once per session, not once
    per sketch query."""
    from wsu_cpts_415_spark.queries.similarity import _hashed_staged

    return _hashed_staged(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


# tau below 1/(max |A|+|B|): keeps exactly the pairs sharing >= 1 shingle,
# i.e. the same pair set the posting-list join enumerates
SHARED_SHINGLE_TAU = 1e-6


def exact_pairs_above(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Exact pairs with Jaccard >= ``tau`` via the BLOCK-MATMUL kernel
    (the ngram_jaccard_matmul machinery emitting a threshold filter
    instead of a top-k): (doc_a, doc_b, jaccard), durably staged
    (fingerprint-keyed parquet, round 11) -- the recall audits'
    ground truth survives a session restart.

    Why not the inverted-index join for this: on a narrow-vocabulary
    corpus nearly every doc pair shares a shingle, so the posting-list
    pair explosion materializes ~all-pairs rows (10.3M at sf0.1, 47 s)
    to keep the handful above threshold.  The sgemm kernel computes the
    same intersection counts as dense math in a fraction of the time
    and emits only survivors.  Intersections/degrees are exact integers
    in float32; the Jaccard division is done in float64, so the
    threshold compare agrees bit-for-bit with the oracle's double
    arithmetic."""
    from wsu_cpts_415_spark.ops.staging import staged_table

    def build() -> DataFrame:
        import numpy as np
        import pandas as pd

        from wsu_cpts_415_spark.queries.similarity import _h64_staged

        # the per-task memory knob: grow ~ sqrt(docs) to hold block
        # populations (and the dense per-block-pair matrices) constant
        n_blocks = 8
        # r12: read the staged narrow (doc_id, h64) layer instead of
        # re-hashing the wide string-shingle table (identical arrays)
        compact = _h64_staged(spark, sf_dir).select(
            "doc_id",
            F.col("h64").alias("hs"),
            (F.col("doc_id") % n_blocks).cast("int").alias("blk"),
        )
        replicated = compact.select(
            "doc_id",
            "blk",
            "hs",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("c"),
        ).select(
            F.least("blk", "c").alias("bi"),
            F.greatest("blk", "c").alias("bj"),
            "doc_id",
            "blk",
            "hs",
        )
        out_schema = "doc_a long, doc_b long, jaccard double"

        def pair_block_threshold(key, pdf):
            bi, bj = key
            empty = pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []})
            a_rows = pdf[pdf["blk"] == bi].sort_values("doc_id")
            b_rows = (
                a_rows if bi == bj else pdf[pdf["blk"] == bj].sort_values("doc_id")
            )
            if a_rows.empty or b_rows.empty:
                return empty
            all_hashes = np.concatenate(
                [
                    np.concatenate(a_rows["hs"].values),
                    np.concatenate(b_rows["hs"].values),
                ]
            )
            vocab = np.unique(all_hashes)
            vsize = len(vocab)

            def indicator(rows: pd.DataFrame) -> np.ndarray:
                S = np.zeros((len(rows), vsize), dtype=np.float32)
                for i, hs in enumerate(rows["hs"].values):
                    S[i, np.searchsorted(vocab, hs)] = 1.0
                return S

            SA = indicator(a_rows)
            SB = SA if bi == bj else indicator(b_rows)
            C = (SA @ SB.T).astype(np.float64)  # exact counts < 2^24
            na = SA.sum(axis=1, dtype=np.float64)[:, None]
            nb = SB.sum(axis=1, dtype=np.float64)[None, :]
            jac = C / (na + nb - C)
            a_ids = a_rows["doc_id"].values[:, None]
            b_ids = b_rows["doc_id"].values[None, :]
            mask = (a_ids < b_ids) if bi == bj else (a_ids != b_ids)
            # round-then-compare, matching the oracle's ROUND(...) >= tau
            mask &= np.round(jac, 6) >= tau
            ai, bix = np.nonzero(mask)
            if len(ai) == 0:
                return empty
            doc_a = a_rows["doc_id"].values[ai]
            doc_b = b_rows["doc_id"].values[bix]
            return pd.DataFrame(
                {
                    "doc_a": np.minimum(doc_a, doc_b),
                    "doc_b": np.maximum(doc_a, doc_b),
                    "jaccard": jac[ai, bix],
                }
            )

        return (
            replicated.groupBy("bi", "bj")
            .applyInPandas(pair_block_threshold, schema=out_schema)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        )

    return staged_table(
        spark,
        f"exact_pairs_above_{tau}",
        sf_dir,
        build,
        salt="sh2w:xx64:blk8:r6",
        expect_cols=["doc_a", "doc_b", "jaccard"],
    )


def exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full exact pair table (doc_a, doc_b, jaccard) for every pair
    sharing at least one shingle -- the inverted-index pipeline of
    ``ngram_jaccard_pairs`` without the top-k, session-staged because
    both the registered query and the LSH recall audit
    (corpus_audit.py) consume it."""
    from wsu_cpts_415_spark.ops.staging import staged

    def build() -> DataFrame:
        shingles = _shingle_rows_staged(spark, sf_dir)
        sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        # Inverted index: per shingle, the sorted list of containing
        # docs.  The repartition after this low-cardinality agg matters:
        # the agg leaves ~#distinct-shingle rows in few partitions, and
        # the pair explosion would run near-serially without it
        # (measured 36 s -> 19 s at sf0.1).
        lists = (
            shingles.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
            .repartition(64)
        )
        # All ordered pairs per shingle, packed into ONE long
        # (a*2^32 + b, a < b): a single 8-byte group key shuffles and
        # hash-aggregates far faster than a two-column row.  The pack
        # is only sound for ids < 2^32, and that contract is CHECKED,
        # not assumed: one scalar aggregate on the staged shingle table
        # (round-8 catch -- the x10 replica probe shifts doc ids past
        # 2^32 and the multiply overflows under ANSI mode; at 100 TB,
        # 64-bit ids are the norm, so the wide-id path is the default
        # posture and the packed key is the small-corpus fast path).
        max_id = shingles.agg(F.max("doc_id")).collect()[0][0] or 0
        # Pair generation is a NESTED explode -- (x at position i) then
        # (each y after i) -- NOT a single flatten(transform(transform))
        # expression: the flattened form materializes a shingle's whole
        # df^2 pair list as ONE in-memory array per row, so a hot
        # shingle OOMs the executor (round-8 catch: df=50k at the x10
        # probe scale = a 1.25B-element array in a single task).  The
        # nested form's per-row memory is bounded by df (one slice
        # array), and the pair stream flows straight into the partial
        # aggregate, which can spill.
        exploded = lists.select(
            "ds", F.posexplode("ds").alias("i", "x")
        )
        if max_id < 2**32:
            pairs = exploded.select(
                F.explode(
                    F.expr(
                        "transform(slice(ds, i + 2, size(ds)),"
                        " y -> x * 4294967296L + y)"
                    )
                ).alias("pk")
            )
            inter = (
                pairs.groupBy("pk")
                .agg(F.count("*").alias("n_common"))
                .select(
                    F.shiftright("pk", 32).alias("doc_a"),
                    F.col("pk").bitwiseAND(F.lit(4294967295)).alias("doc_b"),
                    "n_common",
                )
            )
        else:
            pairs = exploded.select(
                F.col("x").alias("doc_a"),
                F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias(
                    "doc_b"
                ),
            )
            inter = pairs.groupBy("doc_a", "doc_b").agg(
                F.count("*").alias("n_common")
            )
        # sizes is per-DOC (corpus-grain): even inside this labeled
        # exactness baseline the hint rides the row+byte gate, so a big
        # corpus degrades to a shuffle join instead of an OOM'd broadcast
        from wsu_cpts_415_spark.ops.staging import maybe_broadcast
        from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

        sizes_h = maybe_broadcast(
            sizes, DOC_SIDE_BCAST_ROWS, stats_key=("exact_jaccard_sizes", sf_dir)
        )
        sa = sizes_h.alias("sa")
        sb = sizes_h.alias("sb")
        return (
            inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("n_common").cast("double")
                    / (
                        F.col("sa.n_sh")
                        + F.col("sb.n_sh")
                        - F.col("n_common")
                    ),
                    6,
                ).alias("jaccard"),
            )
        )

    return staged(spark, "exact_jaccard_pairs", sf_dir, build)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM shingles GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (bigram-shingle) Jaccard near-duplicate pairs, top-20.

    Plan: inverted index (shingle -> sorted doc list) built by one small
    aggregate, ordered pairs emitted per posting list (only where
    documents actually share a shingle -- never the n^2 cross product),
    intersection counts via ONE hash aggregate on a packed-long pair key,
    Jaccard from |A|+|B|-|A∩B|, TakeOrderedAndProject top-k.  Work is
    inherently Σ df(shingle)^2; at 100 TB you cap df (a stop-shingle cut)
    or prefilter with the MinHash-LSH bucketer (minhash_lsh_pairs) --
    both bound the posting-list blowup before it exists."""
    return (
        exact_jaccard_pairs(spark, sf_dir)
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@register(
    "ngram_jaccard_matmul",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM shingles GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs shingle Jaccard, vectorized and fully distributed:
    the same answer as ngram_jaccard_pairs computed as BLAS matrix
    products over block-pair indicator matrices instead of a 73M-row
    join.

    Shape: compact each doc to an array of xxhash64 shingle hashes (one
    aggregate -- no global dictionary, no unpartitioned window), assign
    each doc to one of NB deterministic blocks, replicate each compact
    doc to its NB block-pairs, then applyInPandas per (block_i, block_j)
    factorizes the pair's hash union to LOCAL dense ids, builds the two
    indicator matrices, and computes intersection counts with one sgemm.
    Each group keeps only its top-k, so the final shuffle carries
    k * NB*(NB+1)/2 rows.  Intersection counts are integers below 2^24
    => float32 sgemm is exact.

    Scale: nothing touches the driver -- no collect, no broadcast of the
    corpus.  Shuffle volume is NB x the compacted corpus (int64 hashes,
    ~1% of the text); per-task memory is two blocks x the pair's local
    vocabulary, and NB is the knob that caps it (grow NB ~ sqrt(docs) to
    hold block size constant).  The exact all-pairs problem is still
    inherently quadratic in docs, so at open-vocabulary 100 TB scale the
    LSH prefilter (minhash_lsh_pairs) is the production path -- this
    query is the exactness baseline those sketches are judged against."""
    import numpy as np
    import pandas as pd

    from wsu_cpts_415_spark.queries.similarity import _h64_staged

    k = 20
    n_blocks = 8
    # compact straight off the session-cached shingle arrays: a per-row
    # transform to 64-bit hashes -- NO explode/groupBy shuffle at all
    # (the shingles are already distinct per doc)
    compact = (
        # r12: staged narrow (doc_id, h64) layer -- same arrays, no
        # per-run interpreted rehash of every shingle
        _h64_staged(spark, sf_dir)
        .select(
            "doc_id",
            F.col("h64").alias("hs"),
            (F.col("doc_id") % n_blocks).cast("int").alias("blk"),
        )
        # NULL-text docs carry a NULL shingle array: drop before the
        # numpy kernel (np.concatenate treats None as 0-dim and throws;
        # an EMPTY array is fine and flows through)
        .filter(F.col("hs").isNotNull())
    )
    # Replicate each doc to every block-pair it participates in: doc in
    # block b meets counterpart block c for c in 0..NB-1; the unordered
    # pair key (least, greatest) lands each (i, j) group exactly once.
    replicated = compact.select(
        "doc_id",
        "blk",
        "hs",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("c"),
    ).select(
        F.least("blk", "c").alias("bi"),
        F.greatest("blk", "c").alias("bj"),
        "doc_id",
        "blk",
        "hs",
    )

    out_schema = "doc_a long, doc_b long, jaccard double"

    def pair_block_topk(key, pdf):
        bi, bj = key
        empty = pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []})
        a_rows = pdf[pdf["blk"] == bi].sort_values("doc_id")
        b_rows = a_rows if bi == bj else pdf[pdf["blk"] == bj].sort_values("doc_id")
        if a_rows.empty or b_rows.empty:
            return empty
        # local dense ids: factorize the union of this pair's hashes
        all_hashes = np.concatenate(
            [np.concatenate(a_rows["hs"].values), np.concatenate(b_rows["hs"].values)]
        )
        vocab = np.unique(all_hashes)
        vsize = len(vocab)

        def indicator(rows: pd.DataFrame) -> np.ndarray:
            S = np.zeros((len(rows), vsize), dtype=np.float32)
            for i, hs in enumerate(rows["hs"].values):
                S[i, np.searchsorted(vocab, hs)] = 1.0
            return S

        SA = indicator(a_rows)
        SB = SA if bi == bj else indicator(b_rows)
        C = SA @ SB.T  # intersection counts, exact in float32
        na = SA.sum(axis=1)[:, None]
        nb = SB.sum(axis=1)[None, :]
        jac = C / (na + nb - C)
        a_ids = a_rows["doc_id"].values[:, None]
        b_ids = b_rows["doc_id"].values[None, :]
        mask = (a_ids < b_ids) if bi == bj else (a_ids != b_ids)
        mask &= C > 0
        ai, bix = np.nonzero(mask)
        if len(ai) == 0:
            return empty
        doc_a = a_rows["doc_id"].values[ai]
        doc_b = b_rows["doc_id"].values[bix]
        return (
            pd.DataFrame(
                {
                    "doc_a": np.minimum(doc_a, doc_b),
                    "doc_b": np.maximum(doc_a, doc_b),
                    "jaccard": jac[ai, bix].astype(np.float64),
                }
            )
            .sort_values(["jaccard", "doc_a", "doc_b"], ascending=[False, True, True])
            .head(k)
        )

    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(pair_block_topk, schema=out_schema)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(k)
    )


@register(
    "token_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY doc_id, tok
    ),
    n AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM tf GROUP BY doc_id
    )
    SELECT tf.doc_id,
           CAST(ANY_VALUE(n.n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(-SUM((tf.c / n.n) * LOG2(tf.c / n.n)), 6) AS entropy_bits
    FROM tf JOIN n USING (doc_id)
    GROUP BY tf.doc_id
    ORDER BY tf.doc_id
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (token) Shannon entropy in bits: the
    information-density signal curation pipelines use alongside the
    Gopher repetition fractions -- low entropy means a document repeats
    itself regardless of WHICH n-gram repeats.

    Scale: explode to (doc, token), two stacked aggregates both keyed by
    doc_id (token counts, then the entropy sum) -- one shuffle key
    throughout, map-side combinable, output one row per document.  The
    p*log2(p) sum is over each doc's distinct tokens only."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    w_doc = Window.partitionBy("doc_id")
    scored = tf.select(
        "doc_id",
        "c",
        F.sum("c").over(w_doc).cast("double").alias("n"),
    )
    p = F.col("c") / F.col("n")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


@register(
    "zipf_slope",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok GROUP BY tok
    ),
    ranked AS (
        SELECT f,
               CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS BIGINT) AS r
        FROM freq
    ),
    pts AS (
        SELECT LN(r) AS x, LN(f) AS y FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(COVAR_POP(x, y) / VAR_POP(x), 6) AS zipf_slope,
           ROUND(AVG(y) - (COVAR_POP(x, y) / VAR_POP(x)) * AVG(x), 6)
               AS intercept
    FROM pts
    """,
)
def zipf_slope(
    spark: SparkSession,
    sf_dir: str,
    scalable_rows: int = SCALABLE_RANK_ROWS,
) -> DataFrame:
    """Corpus Zipf fit: least-squares slope of log-frequency vs log-rank
    over the whole vocabulary -- natural text sits near -1; synthetic,
    boilerplate-heavy, or template-generated corpora drift away, making
    this a one-number corpus-health check.

    Scale: token counting is the standard map-side-combined aggregate;
    above ``scalable_rows`` the vocabulary rank comes from the TIE-FREE
    salted formulation (ops/scalable_rank.py:tiefree_global_row_number)
    -- valid because the regression aggregate is invariant to which
    tied token gets which of its tie group's consecutive ranks, and
    necessary because range bucketing cannot split the Zipf tail's
    giant tie groups (half the vocab sits at f=1); below the bound the
    plain window.  Both paths give identical slope/intercept; the
    regression is a single covariance aggregate, one row out."""
    from wsu_cpts_415_spark.ops.staging import staged, staged_model

    docs = load_table(spark, sf_dir, "documents")
    # the token-frequency aggregate feeds the routing count plus several
    # subtrees of the tie-free rank kernel -- stage it once
    freq = staged(
        spark,
        "zipf_token_freq",
        sf_dir,
        lambda: docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f")),
    )
    # the routing count is a pure function of the dataset (vocab size of
    # the staged freq layer), so it rides staged_model: one count job per
    # (session, dataset) instead of one per call (r13 multi-action sweep;
    # the first call's count also materializes the staged persist, as
    # before)
    n_vocab = staged_model(
        spark, "zipf_vocab_count", sf_dir, lambda: freq.count()
    )
    if n_vocab > scalable_rows:
        ranked = tiefree_global_row_number(
            freq, "f", "tok", descending=True, out_col="r"
        ).select("f", F.col("r").cast("bigint").alias("r"))
    else:
        ranked = freq.select(
            "f",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), "tok"))
            .cast("bigint")
            .alias("r"),
        )
    pts = ranked.select(F.log("r").alias("x"), F.log("f").alias("y"))
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count("*").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 6).alias("intercept"),
    )


@register(
    "bpe_merge_candidates",
    oracle=r"""
    WITH d AS (
        SELECT regexp_split_to_array(text, '\s+') AS toks FROM documents
    ),
    pairs AS (
        SELECT toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
                   AS pair
        FROM d, UNNEST(range(1, len(toks))) AS r(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-style merge round over whitespace tokens: the 20 most
    frequent adjacent token pairs in the corpus -- the statistic a
    byte-pair/wordpiece vocabulary builder computes every merge
    iteration (here at token granularity; the same plan runs at byte
    granularity with a different splitter).

    Scale: pair extraction is a pure map-side array expression (zip the
    token array with its own tail via a transform over indices -- no
    per-doc window, no shuffle of raw text); the only shuffle carries
    (pair, partial count) after map-side combine, and the top-20 is a
    TakeOrderedAndProject.  An N-round vocabulary build iterates this
    plan on a re-encoded token column, same shape every round.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Pair adjacency via zip_with of the token array against its own
    # tail: no indexed access inside the lambda, so even if Catalyst
    # collapses the projection the split() evaluates a constant number
    # of times per ROW -- an indexed lambda (tok[i+1]) re-evaluates the
    # inlined split per ELEMENT, O(tokens^2) per doc (measured 3.7 s at
    # sf0.1 vs 0.4 s for this formulation).
    toks = docs.select(F.expr(r"split(text, '\\s+')").alias("tok"))
    pairs = F.expr(
        "zip_with(slice(tok, 1, greatest(size(tok) - 1, 0)),"
        " slice(tok, 2, greatest(size(tok) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b))"
    )
    return (
        toks.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "source_vocab_overlap",
    oracle=r"""
    WITH vocab AS (
        SELECT DISTINCT source, t.tok
        FROM documents,
             UNNEST(regexp_split_to_array(text, '\s+')) AS t(tok)
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
        FROM vocab GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.n_shared,
           ROUND(i.n_shared * 1.0
                 / (sa.nv + sb.nv - i.n_shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY jaccard DESC, src_a, src_b
    LIMIT 15
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources (top-15 most-similar
    pairs): the corpus-comparison statistic that flags near-identical
    scrapes BEFORE document-level dedup runs -- two sources sharing 90%
    of their vocabulary probably crawled the same sites.

    Scale: the distinct (source, token) projection is vocabulary-bounded
    regardless of corpus size; the self-join is an inverted-index join
    keyed on token, whose hot keys (stopwords shared by every source)
    are bounded by |sources|^2 per token -- cap or drop head terms via
    a document-frequency filter when |sources| is large (same knob as
    the contamination scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source", F.explode(F.expr(r"split(text, '\\s+')")).alias("tok")
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("nv"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("nv").alias("nva"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("nv").alias("nvb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("nva") + F.col("nvb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "src_a", "src_b")
        .limit(15)
    )


@register(
    "quality_calibration_curve",
    oracle=f"""
    WITH {QUALITY_DUCK_CTES}
    SELECT CAST(LEAST(9, FLOOR(quality * 10)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(quality), 6) AS avg_quality,
           ROUND(AVG(CASE WHEN unique_ratio >= 0.8 THEN 1.0 ELSE 0.0 END),
                 6) AS diverse_rate
    FROM qual
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def quality_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the heuristic quality score: documents
    bucketed into fixed 0.1-wide score bins, each bin reporting its mean
    score against the empirical rate of an independent goodness proxy
    (vocabulary diversity >= 0.8).  A well-calibrated scorer shows
    diverse_rate rising monotonically with the bin -- the eval every
    learned quality classifier gets before it gates a corpus.

    Scale: fixed-width binning is pure arithmetic on the scan (NO ntile
    -- a decile window would global-sort the corpus; fixed bins trade
    equal-population for shuffle-free), then a 10-key aggregate.
    """
    from wsu_cpts_415_spark.queries.text import quality_score as _qscore

    scored = _qscore(spark, sf_dir)
    return (
        scored.select(
            F.least(F.lit(9), F.floor(F.col("quality") * 10))
            .cast("int")
            .alias("bucket"),
            "quality",
            "unique_ratio",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(
                F.avg(
                    F.when(F.col("unique_ratio") >= 0.8, 1.0).otherwise(0.0)
                ),
                6,
            ).alias("diverse_rate"),
        )
        .orderBy("bucket")
    )


@register(
    "calibration_ece",
    oracle=f"""
    WITH {QUALITY_DUCK_CTES},
    bins AS (
        SELECT CAST(LEAST(9, FLOOR(quality * 10)) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(quality) AS avg_conf,
               AVG(CASE WHEN unique_ratio >= 0.8 THEN 1.0 ELSE 0.0 END)
                   AS emp_rate
        FROM qual GROUP BY bucket
    ),
    tot AS (SELECT SUM(n_docs) AS n FROM bins)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           ROUND(SUM(n_docs * ABS(avg_conf - emp_rate)) / MAX(n), 6)
               AS ece,
           ROUND(MAX(ABS(avg_conf - emp_rate)), 6) AS mce
    FROM bins, tot
    """,
)
def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the quality score: the
    bin-weighted (ECE) and worst-bin (MCE) gap between mean score and
    the empirical goodness rate -- the scalar summary of the
    reliability diagram (quality_calibration_curve), the number a model
    card quotes.

    Scale: identical shape to the curve (fixed-width bins, 10-key
    aggregate) plus a 1-row reduction."""
    from wsu_cpts_415_spark.queries.text import quality_score as _qscore

    scored = _qscore(spark, sf_dir)
    bins = (
        scored.select(
            F.least(F.lit(9), F.floor(F.col("quality") * 10))
            .cast("int")
            .alias("bucket"),
            "quality",
            (F.col("unique_ratio") >= 0.8).cast("double").alias("diverse"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("quality").alias("avg_conf"),
            F.avg("diverse").alias("emp_rate"),
        )
    )
    gap = F.abs(F.col("avg_conf") - F.col("emp_rate"))
    return bins.agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.round(
            F.sum(F.col("n_docs") * gap) / F.sum("n_docs"), 6
        ).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


PMI_MIN_COUNT = 5  # bigram support floor
PMI_TOP = 20  # report size


@register(
    "bigram_pmi_topk",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    bigrams AS (
        SELECT arr[i.g] AS w1, arr[i.g + 1] AS w2
        FROM arrs, LATERAL (
            SELECT UNNEST(generate_series(1, len(arr) - 1)) AS g
        ) i
    ),
    bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM bigrams
        GROUP BY 1, 2
    ),
    uc AS (
        SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM arrs, UNNEST(arr) AS t(tok) GROUP BY 1
    ),
    totals AS (
        SELECT (SELECT SUM(c_ab) FROM bc) AS n_b,
               (SELECT SUM(c) FROM uc) AS n_u
    )
    SELECT w1, w2, c_ab,
           ROUND(LN((c_ab::DOUBLE / n_b)
                    / ((u1.c::DOUBLE / n_u) * (u2.c::DOUBLE / n_u))), 6)
               AS pmi
    FROM bc, totals
    JOIN uc u1 ON bc.w1 = u1.tok
    JOIN uc u2 ON bc.w2 = u2.tok
    WHERE c_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} adjacent-token bigrams by pointwise mutual
    information (support >= {PMI_MIN_COUNT}): the collocation detector
    -- high-PMI pairs are multiword units a tokenizer or phrase-mining
    pass should treat as one symbol (cf. bpe_merge_candidates, which
    ranks by raw frequency; PMI normalizes away both words' base
    rates).

    Scale: bigrams come from a JVM-side slice-zip transform over the
    token array (no position self-join, no Python); everything after is
    token-grain hash aggregates, two token-keyed joins against the
    unigram table, and a TakeOrderedAndProject top-{PMI_TOP}.
    Deterministic: ties broken by (w1, w2) after 6-digit rounding."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("a"))
    unigrams = (
        toks.select(F.explode("a").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # zip_with over slices: sequence(1, 0) descends for one-token docs
    # and a[-1] throws under ANSI (same catch as _shingle_rows)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1),"
                " slice(a, 2, size(a) - 1),"
                " (x, y) -> struct(x as w1, y as w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    n_b = bc.agg(F.sum("c_ab").alias("n_b"))
    n_u = unigrams.agg(F.sum("c").alias("n_u"))
    u1 = unigrams.select(
        F.col("tok").alias("w1"), F.col("c").alias("c_a")
    )
    u2 = unigrams.select(
        F.col("tok").alias("w2"), F.col("c").alias("c_b")
    )
    pmi = (
        bc.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_b))
        .crossJoin(F.broadcast(n_u))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_b"))
                    / (
                        (F.col("c_a") / F.col("n_u"))
                        * (F.col("c_b") / F.col("n_u"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP)


CHI2_MIN_TOKEN_COUNT = 20  # support floor for discriminative terms
CHI2_TOP = 10  # report size per language


@register(
    "chi2_keywords_per_lang",
    oracle=f"""
    WITH toks AS (
        SELECT d.lang, t.tok
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(tok)
    ),
    tl AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS a
        FROM toks GROUP BY 1, 2
    ),
    tok_tot AS (
        SELECT tok, SUM(a) AS t_tot FROM tl GROUP BY 1
    ),
    lang_tot AS (
        SELECT lang, SUM(a) AS l_tot FROM tl GROUP BY 1
    ),
    grand AS (SELECT SUM(a) AS n FROM tl),
    cells AS (
        SELECT tl.lang, tl.tok, tl.a,
               CAST(tok_tot.t_tot - tl.a AS DOUBLE) AS b,
               CAST(lang_tot.l_tot - tl.a AS DOUBLE) AS c,
               CAST(grand.n - tok_tot.t_tot - lang_tot.l_tot + tl.a
                    AS DOUBLE) AS d,
               CAST(grand.n AS DOUBLE) AS n
        FROM tl
        JOIN tok_tot ON tl.tok = tok_tot.tok
        JOIN lang_tot ON tl.lang = lang_tot.lang
        CROSS JOIN grand
        WHERE tok_tot.t_tot >= {CHI2_MIN_TOKEN_COUNT}
    ),
    scored AS (
        SELECT lang, tok, a,
               ROUND(n * (a::DOUBLE * d - b * c) * (a::DOUBLE * d - b * c)
                     / ((a + b) * (c + d) * (a + c) * (b + d)), 6) AS chi2
        FROM cells
        WHERE a::DOUBLE * d > b * c
    ),
    ranked AS (
        SELECT lang, tok, a AS in_lang_count, chi2,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY chi2 DESC, tok) AS rnk
        FROM scored
    )
    SELECT lang, CAST(rnk AS INT) AS rank, tok, in_lang_count, chi2
    FROM ranked WHERE rnk <= {CHI2_TOP}
    ORDER BY lang, rank
    """,
)
def chi2_keywords_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discriminative keywords per language by chi-square association
    over the (token-in-lang vs token-elsewhere) 2x2 table, positive
    associations only -- the complement of tfidf_top_terms (tf-idf
    rewards rarity anywhere; chi2 rewards skew TOWARD the class, the
    feature-selection statistic for routing/classifier vocabularies).

    Scale: token-grain hash aggregates for the contingency margins (the
    token x lang table joins token totals on the token key and the
    lang totals by broadcast-sized dim), chi2 as a row-local expression
    with exact integer cross-products, and a per-language
    WindowGroupLimit top-{CHI2_TOP}.  Support floor
    {CHI2_MIN_TOKEN_COUNT} keeps hapax noise out."""
    docs = load_table(spark, sf_dir, "documents")
    tl = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("a"))
    )
    tok_tot = tl.groupBy("tok").agg(F.sum("a").alias("t_tot"))
    lang_tot = tl.groupBy("lang").agg(F.sum("a").alias("l_tot"))
    grand = tl.agg(F.sum("a").alias("n"))
    cells = (
        tl.join(tok_tot.filter(F.col("t_tot") >= CHI2_MIN_TOKEN_COUNT), "tok")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(grand))
        .select(
            "lang",
            "tok",
            "a",
            (F.col("t_tot") - F.col("a")).cast("double").alias("b"),
            (F.col("l_tot") - F.col("a")).cast("double").alias("c"),
            (F.col("n") - F.col("t_tot") - F.col("l_tot") + F.col("a"))
            .cast("double")
            .alias("d"),
            F.col("n").cast("double").alias("n"),
        )
    )
    a_d = F.col("a").cast("double")
    scored = cells.filter(
        a_d * F.col("d") > F.col("b") * F.col("c")
    ).select(
        "lang",
        "tok",
        "a",
        F.round(
            F.col("n")
            * (a_d * F.col("d") - F.col("b") * F.col("c"))
            * (a_d * F.col("d") - F.col("b") * F.col("c"))
            / (
                (a_d + F.col("b"))
                * (F.col("c") + F.col("d"))
                * (a_d + F.col("c"))
                * (F.col("b") + F.col("d"))
            ),
            6,
        ).alias("chi2"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= CHI2_TOP)
        .select(
            "lang",
            "rank",
            "tok",
            F.col("a").alias("in_lang_count"),
            "chi2",
        )
        .orderBy("lang", "rank")
    )


@register(
    "tokenizer_fertility_audit",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                   AS ws_tokens,
               CAST(len(string_split_regex(text, '[^a-z0-9]+')) AS BIGINT)
                   AS bpe_ish_tokens
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(bpe_ish_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_bytes) * 1.0 / SUM(bpe_ish_tokens), 6)
               AS bytes_per_token,
           ROUND(SUM(bpe_ish_tokens) * 1.0 / SUM(ws_tokens), 6)
               AS fertility_vs_words
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer economics: bytes/token and fertility
    (subword-ish tokens per whitespace word) under the engine's BPE-ish
    regex tokenizer -- the numbers a training-data plan converts corpus
    bytes into token budgets with, and the first signal that a
    tokenizer underserves a language (high fertility = more tokens per
    word = higher training cost per byte of that language).  One
    grouped aggregate over per-row expressions; the token counters are
    the same definitions as ``token_count_regex``, so the two queries
    cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.expr(r"size(split(text, '\\s+'))").cast("bigint").alias("ws_tokens"),
        F.expr(r"size(split(text, '[^a-z0-9]+'))")
        .cast("bigint")
        .alias("bpe_ish_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("bpe_ish_tokens").alias("total_tokens"),
            F.round(
                F.sum("n_bytes") / F.sum("bpe_ish_tokens"), 6
            ).alias("bytes_per_token"),
            F.round(
                F.sum("bpe_ish_tokens") / F.sum("ws_tokens"), 6
            ).alias("fertility_vs_words"),
        )
        .orderBy("lang")
    )
