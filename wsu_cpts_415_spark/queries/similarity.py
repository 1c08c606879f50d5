"""Similarity-search and sketch-based near-dup operators: MinHash+LSH,
SimHash, embedding cosine top-k (brute force + bucketed ANN).

North-star LLM-data operators (BASELINE.json; SURVEY.md §7.2 P7/P8).
Hash functions are md5-derived so Spark and DuckDB produce identical
signatures (md5 is bit-identical in both; hex prefix -> bigint).

Scale design:
  * MinHash signatures are per-row array expressions (no shuffle).
  * LSH banding turns the O(n^2) pair problem into an equi-join on
    (band, band_hash) buckets -- the only shuffle, and it carries
    signatures, not documents.
  * Brute-force cosine is the correctness baseline; the bucketed variant
    is the scale path (prunes to the query's Hamming-adjacent buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.registry import register

N_HASHES = 8  # minhash signature length
N_BANDS = 4  # LSH bands (rows-per-band = 2)
JACCARD_THRESHOLD = 0.5  # the 4-band/2-row s-curve midpoint
TOP_K = 10

_SPARK_H32 = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint)"
_DUCK_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"

# Universal-hash family for the minhash seeds: h_s(x) = (a_s * h(x) + b_s)
# mod p over a single md5-derived base hash.  One md5 per shingle instead
# of one per (seed, shingle) -- md5+hex+conv dominates signature cost.
_MERSENNE_P = 2147483647  # 2^31 - 1
_HASH_PARAMS = [
    ((s * 2654435761 + 12289) % _MERSENNE_P or 1, (s * 805306457 + 32749) % _MERSENNE_P)
    for s in range(N_HASHES)
]

_DUCK_SHINGLES_LIST = (
    "list_distinct(list_transform("
    "generate_series(1, len(string_split(text, ' ')) - 1),"
    " i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))"
)


def _spark_shingled(docs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, shingles) with tokens/shingles materialized as
    real columns.  Nested lambdas over an inline expression would
    re-evaluate split(text) for every shingle position and every seed
    (measured 40 s vs 0.3 s at sf0.1); staging each array through a
    Project computes it once per row.  ``keep`` names columns of
    ``docs`` carried through unchanged."""
    toks = docs.select("doc_id", *keep, F.split("text", " ").alias("toks"))
    # size < 2 guard: Spark's sequence(1, 0) counts DOWN to [1, 0] and
    # element_at(toks, 0) throws, where DuckDB's generate_series(1, 0)
    # is simply empty -- a one-word document must yield an empty shingle
    # set in both engines (and must not crash a streaming ingest batch)
    return toks.select(
        "doc_id",
        *keep,
        F.expr(
            "CASE WHEN size(toks) < 2 THEN cast(array() as array<string>)"
            " ELSE array_distinct(transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
            " END"
        ).alias("shingles"),
    )


def _spark_minhash_sig() -> str:
    """Signature over a materialized ``hs`` column (base hashes of the
    shingle set): sig[s] = min over shingles of (a_s*h + b_s) mod p."""
    mins = ", ".join(
        f"array_min(transform(hs, h -> pmod({a}L * h + {b}L, {_MERSENNE_P}L)))"
        for a, b in _HASH_PARAMS
    )
    return f"array({mins})"


_DUCK_BASE_HASHES = (
    f"list_transform({_DUCK_SHINGLES_LIST},"
    f" sh -> {_DUCK_H32.format(x='sh')} % {_MERSENNE_P})"
)
_SPARK_BASE_HASHES = (
    f"transform(shingles, sh -> pmod({_SPARK_H32.format(x='sh')}, {_MERSENNE_P}L))"
)


def _spark_hashed(docs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, shingles, hs): shingle set + base hashes, each
    materialized once per row (base hash already reduced mod p so the
    seeded multiply never overflows int64); ``keep`` as in
    ``_spark_shingled``."""
    return _spark_shingled(docs, *keep).select(
        "doc_id", *keep, "shingles", F.expr(_SPARK_BASE_HASHES).alias("hs")
    )


def bands_from_hashed(hashed: DataFrame, *keep: str) -> DataFrame:
    """Band table (doc_id, *keep, b, h1, h2) from a projection carrying
    ``hs``: the one band derivation behind the staged ``minhash_bands``
    layer, the ingest gate's batch bands and its standing band store, so
    batch bands join standing bands key-for-key.  ``keep`` names columns
    of ``hashed`` carried onto every band row (the gate carries ``h64``
    to verify candidates)."""
    return (
        hashed
        .select("doc_id", *keep, F.expr(_spark_minhash_sig()).alias("sig"))
        .select(
            "doc_id",
            *keep,
            F.explode(F.expr(f"sequence(0, {N_BANDS - 1})")).alias("b"),
            "sig",
        )
        .select(
            "doc_id",
            *keep,
            "b",
            F.expr("element_at(sig, 2 * b + 1)").alias("h1"),
            F.expr("element_at(sig, 2 * b + 2)").alias("h2"),
        )
    )


def shingle_h64() -> Column:
    """``h64``: the compact form of a ``shingles`` array, one 64-bit
    xxhash64 per shingle string -- the row format of the staged
    ``shingle_h64`` layer and of the ingest gate's standing shingle
    store (8 bytes per shingle, never the n-gram text)."""
    return F.expr("transform(shingles, s -> xxhash64(s))").alias("h64")


def text_digest() -> Column:
    """``digest``: the md5 of a document's UTF-8 ``text`` -- the exact-dup
    key of the ingest gate's standing digest store and of its batch
    face (queries/dedup_policy.py:ingest_dedup_gate)."""
    return F.md5(F.encode("text", "UTF-8")).alias("digest")


def _hashed_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durably staged (doc_id, shingles, hs) projection: the md5+shingle
    math dominates every minhash query, and the LSH self-join would
    otherwise recompute it once per join side.  Fingerprint-keyed
    parquet (ops/staging.py staged_table) since round 11, so a
    RESTARTED session reads it instead of re-running the shingle math
    -- the x100 probe priced the per-session rebuild at 200 s."""
    from wsu_cpts_415_spark.ops.staging import staged_table

    return staged_table(
        spark,
        "minhash_hashed",
        sf_dir,
        lambda: _spark_hashed(load_table(spark, sf_dir, "documents")),
        salt=f"md5h32:p{_MERSENNE_P}:sh2w",
        expect_cols=["doc_id", "shingles", "hs"],
    )


def _h64_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durably staged NARROW (doc_id, h64) projection: the 64-bit
    shingle hashes the ER scorers intersect per candidate pair.
    Before round 12 every restarted ER session re-read the WIDE
    minhash_hashed layer (string shingle arrays) only to hash it down
    to this table; staging the narrow form directly cuts the restart
    cold path to a fixed-width parquet read (x100 probe target:
    session-2 cold <= 2x warm)."""
    from wsu_cpts_415_spark.ops.staging import staged_table

    return staged_table(
        spark,
        "shingle_h64",
        sf_dir,
        lambda: _hashed_staged(spark, sf_dir).select("doc_id", shingle_h64()),
        salt=f"md5h32:p{_MERSENNE_P}:sh2w:xx64",
        expect_cols=["doc_id", "h64"],
    )


def _duck_minhash_sig() -> str:
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * h + {b}) % {_MERSENNE_P}))"
        for a, b in _HASH_PARAMS
    )
    return f"[{mins}]"


@register(
    "minhash_signatures",
    oracle=f"""
    SELECT doc_id, array_to_string({_duck_minhash_sig()}, ',') AS sig
    FROM (SELECT doc_id, {_DUCK_BASE_HASHES} AS hs FROM documents)
    ORDER BY doc_id
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature per document ({N_HASHES} seeded md5 hash
    functions over bigram shingles).  Pure map-side array math -- the
    signature replaces the document in every downstream near-dup step.

    The registered output serializes the signature to a CSV string in
    both engines (driver's pandas canonicalizer cannot sort list cells);
    downstream LSH banding keeps using the array form."""
    return _hashed_staged(spark, sf_dir).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.expr(_spark_minhash_sig()), lambda x: x.cast("string")
            ),
            ",",
        ).alias("sig"),
    ).orderBy("doc_id")


# Reusable DuckDB CTE chain ending in ``lsh_pairs(doc_a, doc_b, jaccard)``
# -- the verified LSH candidate-pair table.  minhash_lsh_pairs selects from
# it directly; graph_ops composes it into connected-components oracles.
LSH_PAIRS_DUCK_CTES = f"""sigs AS (
        SELECT doc_id, {_duck_minhash_sig()} AS sig
        FROM (SELECT doc_id, {_DUCK_BASE_HASHES} AS hs FROM documents)
    ),
    bands AS (
        SELECT doc_id, b,
               sig[2 * b + 1] AS h1, sig[2 * b + 2] AS h2
        FROM sigs, UNNEST(generate_series(0, {N_BANDS - 1})) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.b = b.b AND a.h1 = b.h1 AND a.h2 = b.h2
                     AND a.doc_id < b.doc_id
    ),
    sh AS (
        SELECT doc_id, {_DUCK_SHINGLES_LIST} AS shingles FROM documents
    ),
    lsh_pairs AS (
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_intersect(sa.shingles, sb.shingles))), 6)
                   AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )"""


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered verified candidate-pair table (doc_a, doc_b, jaccard):
    LSH banding prunes to bucket collisions, then the exact shingle-set
    Jaccard is computed on candidates only.  Shared by the registered
    pair query, the near-dup clustering operator (graph_ops.py), and the
    multi-method consensus (similarity2.py) -- so the verified table is
    session-staged like the base projections: a 100 TB dedup run writes
    the pair table once and every consumer reads it, instead of
    re-running the banding join per consumer (re-derivation also fuses
    badly: measured 26 s vs 1 s for the consensus full-outer join when
    both pair subtrees are inlined into one plan at sf0.1)."""
    from wsu_cpts_415_spark.ops.staging import staged_table

    return staged_table(
        spark,
        "lsh_verified_pairs",
        sf_dir,
        lambda: _lsh_verified_pairs(spark, sf_dir),
        salt=f"nh{N_HASHES}:nb{N_BANDS}:p{_MERSENNE_P}",
        expect_cols=["doc_a", "doc_b", "jaccard"],
    )


def _bands_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durably staged slim band table (doc_id, b, h1, h2): the LSH bucket
    keys for every document.  Shared by the corpus self-join
    (minhash_lsh_pairs) and the asymmetric incremental check
    (queries/dedup_policy.py) -- the signature math runs once and
    persists across sessions (fingerprint-keyed parquet, round 11),
    like the shingle/hash projection underneath it.  Built by
    ``bands_from_hashed``, the ingest gate's band derivation."""
    from wsu_cpts_415_spark.ops.staging import staged_table

    return staged_table(
        spark,
        "minhash_bands",
        sf_dir,
        lambda: bands_from_hashed(_hashed_staged(spark, sf_dir)),
        salt=f"nh{N_HASHES}:nb{N_BANDS}:p{_MERSENNE_P}",
        expect_cols=["doc_id", "b", "h1", "h2"],
    )


def lsh_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNVERIFIED band-collision candidate pairs (doc_a < doc_b),
    deduped: the LSH generator's output before any Jaccard is computed.
    Shared by the verified-pair build below and the multi-pass blocking
    recall audit (queries/er_scoring.py), which scores each candidate
    GENERATOR -- not the verified survivors -- against ground truth.

    Session-staged (r12): the band self-join was re-run by every
    consumer -- the verified-pair build, the multipass ER union, and
    both recall audits -- at ~0.5 s per execution at sf0.1; like
    ``lsh_verified_pairs`` one layer up, the candidate pair table is
    deterministic per corpus, so every consumer now reads one persisted
    build (the 100 TB shape: the generator's output is a staged layer,
    not a per-query subtree)."""
    from wsu_cpts_415_spark.ops.staging import staged

    def build() -> DataFrame:
        bands = _bands_staged(spark, sf_dir)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.b") == F.col("b.b"))
                & (F.col("a.h1") == F.col("b.h1"))
                & (F.col("a.h2") == F.col("b.h2"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )

    return staged(spark, "lsh_band_candidates", sf_dir, build)


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage 1: slim band table (doc_id, band, two signature slots) -- the
    # self-join shuffles ONLY ids + hashes, never text or shingle arrays.
    # The staged projection is computed once and read by the band build
    # AND both candidate-verification sides below.
    cand = lsh_band_candidates(spark, sf_dir)
    # Stage 2: attach shingle sets to the (deduped) candidates only.
    sh = _hashed_staged(spark, sf_dir).select("doc_id", "shingles")
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    pairs = cand.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
        sb, F.col("doc_b") == F.col("sb.doc_id")
    )
    inter = F.size(F.array_intersect("sa.shingles", "sb.shingles"))
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(
            inter.cast("double")
            / (F.size("sa.shingles") + F.size("sb.shingles") - inter),
            6,
        ).alias("jaccard"),
    )


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {LSH_PAIRS_DUCK_CTES}
    SELECT doc_a, doc_b, jaccard FROM lsh_pairs
    ORDER BY jaccard DESC, doc_a, doc_b
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate pairs with exact Jaccard verification.

    Banding: signature split into {N_BANDS} bands of 2; documents
    colliding on any full band become candidates (the classic
    s-curve selectivity).  Only candidates are verified with the exact
    shingle-set Jaccard -- at 100 TB this is the difference between a
    bucket-local join and an impossible n^2 comparison."""
    return lsh_verified_pairs(spark, sf_dir).orderBy(
        F.col("jaccard").desc(), "doc_a", "doc_b"
    )


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN ({_DUCK_H32.format(x='t')} >> b) % 2 = 1
                        THEN 1 ELSE -1 END) AS s
        FROM tok, UNNEST(generate_series(0, 31)) AS u(b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-bit majority vote over token
    hashes (with multiplicity).  Near-duplicate documents differ in few
    bits -> dedup by Hamming distance on a 64-bit integer instead of
    comparing texts.

    Implemented as explode(token hashes) -> one hash aggregate with 32
    conditional sums -> bit recombination.  Spark's higher-order lambda
    functions are interpreted per element (no codegen) -- the nested
    per-bit fold measured 11 s at sf0.1 vs ~1 s for this vectorized
    hash-aggregate plan; the shuffle key is doc_id and the shuffle rows
    are (doc_id, 32 ints), map-side combined."""
    return simhash_staged(spark, sf_dir).orderBy("doc_id")


def simhash_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, simhash) fingerprint table -- computed
    once, read by the fingerprint query and BOTH sides of the
    ``simhash_hamming_pairs`` self-join (ops/staging.py)."""
    from wsu_cpts_415_spark.ops.staging import staged

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        h = _SPARK_H32.format(x="t")
        tok = docs.select(
            "doc_id",
            F.explode(F.expr(f"transform(split(text, ' '), t -> {h})")).alias("h"),
        )
        bit_sums = tok.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(F.expr(f"pmod(shiftright(h, {b}), 2) = 1"), 1).otherwise(-1)
                ).alias(f"s{b}")
                for b in range(32)
            ]
        )
        recombine = " + ".join(
            f"IF(s{b} > 0, shiftleft(1L, {b}), 0L)" for b in range(32)
        )
        return bit_sums.select("doc_id", F.expr(recombine).alias("simhash"))

    return staged(spark, "simhash_fingerprints", sf_dir, build)


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------

_QUERY_VEC_ID = 0


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = {_QUERY_VEC_ID}
    )
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column: the exact
    baseline every ANN variant is measured against.

    The query vector rides along as a broadcast single-row cross join
    (never a driver-side collect into the closure); the dot product is a
    zip_with/aggregate higher-order expression in doubles; top-k is
    TakeOrderedAndProject.  At 100 TB this is one scan, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r12: the query norm is a pair-invariant scalar -- fold it ONCE in
    # the 1-row broadcast side instead of per corpus row (same
    # expression, same float order, bit-identical cosine).
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.expr(
            "sqrt(aggregate(embedding, 0D,"
            " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        ).alias("q_norm"),
    )
    cos = (
        "aggregate(zip_with(embedding, qv, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
        " / (sqrt(aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        " * q_norm)"
    )
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(F.expr(cos), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


_SPARK_BUCKET = (
    "aggregate(sequence(0, 7), 0L, (acc, i) ->"
    " acc + IF(element_at({v}, i + 1) > 0, shiftleft(1L, i), 0L))"
)
_DUCK_BUCKET = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(generate_series(0, 7),"
    " i -> CASE WHEN {v}[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),"
    " (acc, x) -> acc + x)"
)


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv,
               {_DUCK_BUCKET.format(v='embedding')} AS qb
        FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
    )
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> {_QUERY_VEC_ID}
      AND {_DUCK_BUCKET.format(v='e.embedding')} = q.qb
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: sign-bit LSH bucket (8 leading dimensions -> 256
    buckets), search only the query's bucket.

    The scale path: bucket id is a map-side expression; candidates are
    pruned by an equi-filter on the bucket BEFORE any distance math.  On
    a cluster the table would be written partitioned/bucketed by this id
    so a query touches one partition.  Recall improves by probing
    Hamming-adjacent buckets (multi-probe), same plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r12: query norm folded once on the broadcast side (see
    # cosine_topk_bruteforce) -- bit-identical cosine.
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.expr(_SPARK_BUCKET.format(v="embedding")).alias("qb"),
        F.expr(
            "sqrt(aggregate(embedding, 0D,"
            " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        ).alias("q_norm"),
    )
    cos = (
        "aggregate(zip_with(embedding, qv, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
        " / (sqrt(aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
        " * q_norm)"
    )
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .withColumn("bucket", F.expr(_SPARK_BUCKET.format(v="embedding")))
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qb"))
        .select("vec_id", "label", F.round(F.expr(cos), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {_DUCK_BUCKET.format(v='embedding')} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
               list_dot_product(a.v, x.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(x.v, x.v))) AS cos_raw
        FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cos_raw, 6) AS cosine
    FROM pairs
    ORDER BY cos_raw DESC, vec_a, vec_b
    LIMIT {TOP_K}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: the all-pairs problem
    pruned by the sign-bit LSH bucket (pairs must collide on all 8 leading
    sign bits), then exact cosine on survivors, global top-k closest.

    Scale shape: the bucket equi-join replaces an O(n^2) cross product
    with per-bucket blocks (256 buckets => ~n^2/256 candidate pairs, and
    on a cluster the join shuffles on the bucket key only); the top-k is
    TakeOrderedAndProject.  Raising recall = multi-probe (Hamming-adjacent
    buckets) or more/rotated hyperplanes -- same plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r12: the row norm is pair-invariant -- fold it once per vector
    # BEFORE the bucket self-join instead of twice per candidate pair
    # (~n^2/256 pairs vs n rows); same expression and float order, so
    # the rounded cosine is bit-identical.
    b = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        F.expr(_SPARK_BUCKET.format(v="embedding")).alias("bucket"),
    ).withColumn(
        "nrm", F.expr("sqrt(aggregate(v, 0D, (acc, p) -> acc + p * p))")
    )
    a, x = b.alias("a"), b.alias("x")
    dot = "aggregate(zip_with(a.v, x.v, (p, q) -> p * q), 0D, (acc, s) -> acc + s)"
    cos = f"{dot} / (a.nrm * x.nrm)"
    return (
        a.join(
            x,
            (F.col("a.bucket") == F.col("x.bucket"))
            & (F.col("a.vec_id") < F.col("x.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("x.vec_id").alias("vec_b"),
            F.expr(cos).alias("cos_raw"),
        )
        .orderBy(F.col("cos_raw").desc(), "vec_a", "vec_b")
        .limit(TOP_K)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


@register(
    "embedding_label_stats",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6)
               AS avg_norm,
           ROUND(MIN(embedding[1]), 6) AS min_dim0,
           ROUND(MAX(embedding[1]), 6) AS max_dim0
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics (count, mean L2 norm, dim-0 range):
    the sanity scan before any similarity work."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = (
        "sqrt(aggregate(embedding, 0D,"
        " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.expr(norm)), 6).alias("avg_norm"),
            F.round(F.min(F.expr("cast(element_at(embedding, 1) as double)")), 6).alias(
                "min_dim0"
            ),
            F.round(F.max(F.expr("cast(element_at(embedding, 1) as double)")), 6).alias(
                "max_dim0"
            ),
        )
        .orderBy("label")
    )


@register(
    "binary_payload_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha256
    FROM documents
    ORDER BY doc_id
    """,
)
def binary_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing, relational half: treat the payload as
    an opaque binary column with typed metadata (byte length + content
    hash).  The decode/feature-extraction half lives in
    wsu_cpts_415_spark/pipelines/multimodal.py (mapInPandas over binary
    batches, decode stubbed -- image/audio libs absent by design)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.sha2(F.encode("text", "UTF-8"), 256).alias("payload_sha256"),
    ).orderBy("doc_id")
