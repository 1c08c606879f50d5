"""Streaming crawl ingest with a dedup gate: the production composition
of the incremental-check machinery (queries/dedup_policy.py) behind a
Structured Streaming foreachBatch sink.

Each micro-batch of arriving documents is gated BEFORE landing:

  1. exact gate -- batch docs whose text digest already exists in the
     standing digest store are dropped (within-batch exact dups keep the
     min doc_id: one ``min(struct(doc_id, ...))`` aggregate per digest);
  2. near-dup gate -- the batch's LSH band table joins the standing band
     store (batch side broadcast: a per-batch sliver), collisions are
     verified by exact shingle Jaccard, and docs at/above the threshold
     are dropped; within-batch verified pairs drop the larger doc_id
     (deterministic greedy);
  3. survivors land in the accepted store AND their digests / bands /
     shingles are appended to the standing stores, so batch N+1 dedups
     against everything batch N admitted.

Landing (``_land``, shared with streaming/line_gate.py): the admitted
rows and their store projections are materialized ONCE, by an eager
local checkpoint whose job also counts them (an ``Observation``; no
probe job).  The accepted write goes first, then the three store
appends run concurrently, all from that materialization.  Its lineage
cannot reach the standing stores, so no write re-runs the gate against
stores that earlier writes of the same batch have changed.  Its blocks
are batch-sized, and Spark's ContextCleaner removes them once the
driver JVM garbage-collects the frame, which it may as soon as the
batch body returns.  The gate and the landing scan the micro-batch
once, and the standing stores are read with their written schemas (no
footer-inference job).

Exactly-once: the foreachBatch protocol of streaming/jobs.py -- every
store write is this batch's ``_batch=<id>`` partition, so a batch
replayed after a mid-commit crash rewrites its own partitions, and a
batch that admits nothing drops any partition a prior attempt left.
Both gates share this module's landing (``_land``), standing-store
reader (``_read_store``) and init path (``_init_stores``).

Scale posture: per-batch cost is O(standing-store scan) + O(collisions),
independent of the standing corpus's PAIR count; the standing stores are
the parquet twins of the bucketed layout in
queries/dedup_policy.py:_inc_bucketed_layout (at 100 TB they are written
bucketed by the nightly maintenance job and the band join is
bucket-co-located; here they are plain parquet because each batch's band
table broadcasts).  Text never leaves the batch's scan stage: the
standing stores hold md5 digests, band keys, and COMPACT 64-bit
shingle-hash arrays (round 9; previously raw shingle strings) -- the
per-batch store scan moves 8 bytes per shingle instead of ~15-char
n-gram text, and verification intersects long arrays.  Hash-collision
bound vs exact string Jaccard: same argument as queries/er_scoring.py's
signal attach -- a cross-doc xxhash64 collision inflates one
intersection with probability ~|A||B|/2^64 < 1e-13 per pair, and the
oracle-checked batch face (queries/dedup_policy.py:ingest_dedup_gate,
whose DuckDB oracle intersects the STRING shingles) would surface any
hit.  Measured cost curve (round 9): steady per-batch wall flat from
x10 to x100 standing corpora.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.util import inheritable_thread_target

from wsu_cpts_415_spark.ops.staging import content_fingerprint
from wsu_cpts_415_spark.queries.similarity import (
    bands_from_hashed,
    bands_of,
    hashed_of,
)
from wsu_cpts_415_spark.streaming.jobs import (
    drop_batch,
    run_foreach_batch,
    write_batch,
)

JACCARD_THRESHOLD = 0.5  # the 4-band/2-row s-curve midpoint

# the compact standing-shingle form: one 64-bit hash per shingle string
_H64 = "transform(shingles, s -> xxhash64(s))"


def _digest() -> Column:
    return F.md5(F.encode("text", "UTF-8")).alias("digest")


def _digests_of(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _digest())


def _h64_of(docs: DataFrame) -> DataFrame:
    """(doc_id, h64): the compact 64-bit shingle-hash array per doc --
    the standing shingle store's row format (8 bytes per shingle; the
    raw n-gram strings never leave the batch that produced them)."""
    return hashed_of(docs).select("doc_id", F.expr(_H64).alias("h64"))


def _read_store(
    spark: SparkSession,
    path: str,
    empty: DataFrame,
    exclude_batch: int | None = None,
) -> DataFrame:
    """The standing store at ``path``, read with the schema it was
    written with (``empty``'s schema plus ``_batch int``), so the read
    infers nothing from parquet footers and costs no job.

    A missing store (first run with no ``--init-corpus``: the standing
    corpus starts empty and batch 0 creates the store) reads as
    ``empty`` instead of crashing the stream with PATH_NOT_FOUND from
    inside the first micro-batch.  ``exclude_batch`` makes the gate
    REPLAY-DETERMINISTIC: a batch replayed after a crash that landed some
    of its own store partitions must not gate against them (it would
    see its own rows as standing and admit nothing, leaving the stores
    missing this batch's rows forever), so the read drops the
    ``_batch=<exclude_batch>`` partition."""
    schema = StructType([*empty.schema, StructField("_batch", IntegerType())])
    try:
        df = spark.read.schema(schema).parquet(path)
    except AnalysisException:  # store not created yet -> empty corpus
        return empty
    if exclude_batch is not None:
        df = df.filter(F.col("_batch") != exclude_batch)
    return df.drop("_batch")


def _init_stores(
    spark: SparkSession,
    corpus_docs: DataFrame,
    store_dir: str,
    gate: str,
    stores: dict[str, DataFrame],
) -> None:
    """Build each named standing store under ``store_dir`` from the
    corpus (the nightly maintenance job's output) as its base
    ``_batch=-1`` partition, unless this gate already built them all
    from this corpus.  ``stores`` maps each store name to its base rows.

    Restart-skip (round 10): the stores are durable tables, so a gate
    RESTART over the same corpus must not pay the O(corpus) rebuild --
    and, worse, the rebuild's whole-store ``overwrite`` would wipe every
    ``_batch>=0`` partition the running gate had appended.  A one-row
    per-gate marker (``_corpus_id_<gate>``, so gates sharing a
    ``store_dir`` never skip each other's builds) holds the corpus's
    ``content_fingerprint`` over (doc_id, text).  Init is a READ -- one
    corpus scan for the fingerprint, no store touch -- only when the
    marker matches AND every named store's footer resolves: a store
    lost while its marker survived must rebuild, not leave the gate
    gating against an empty corpus.  Any marker read failure (a corrupt
    or half-written file raises SparkException) counts as no marker:
    rebuilding is always the safe answer.  The marker is written LAST,
    so a crash mid-build leaves none.  Measured x100 (round 10): 102 s
    build -> ~seconds on restart."""
    fp = content_fingerprint(corpus_docs, ["doc_id", "text"])
    marker = f"{store_dir}/_corpus_id_{gate}"
    try:
        (row,) = spark.read.parquet(marker).collect()
        if (row["n_docs"], row["xor_hash"], int(row["sum_hash"])) == fp:
            for name in stores:  # footer reads only, no job
                spark.read.parquet(f"{store_dir}/{name}").schema
            return
    except Exception:
        pass
    for name, rows in stores.items():
        rows.withColumn("_batch", F.lit(-1)).write.mode(
            "overwrite"
        ).partitionBy("_batch").parquet(f"{store_dir}/{name}")
    spark.createDataFrame(
        [(fp[0], fp[1], Decimal(fp[2]))],
        "n_docs long, xor_hash long, sum_hash decimal(38,0)",
    ).coalesce(1).write.mode("overwrite").parquet(marker)


def init_standing_stores(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Materialize the standing digest / band / shingle stores from the
    corpus through ``_init_stores`` (restart-skip included).  The build
    computes the shingle/hash projection ONCE and derives bands +
    compact shingle arrays from it (``persist`` is lazy: a restart-skip
    never computes it)."""
    hashed = hashed_of(corpus_docs).persist()
    try:
        _init_stores(
            spark,
            corpus_docs,
            store_dir,
            "dedup",
            {
                "digests": _digests_of(corpus_docs),
                "bands": bands_from_hashed(hashed),
                "shingles": hashed.select("doc_id", F.expr(_H64).alias("h64")),
            },
        )
    finally:
        hashed.unpersist()


def gate_batch(
    batch_df: DataFrame,
    store_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Pure gating logic (no writes): ``gate_against`` over the standing
    stores under ``store_dir``, each read by ``_read_store`` (a missing
    store is an empty corpus; ``exclude_batch`` keeps replays
    deterministic)."""
    spark = batch_df.sparkSession
    nil = batch_df.limit(0)

    def read(name: str, empty: DataFrame) -> DataFrame:
        return _read_store(spark, f"{store_dir}/{name}", empty, exclude_batch)

    std_digests = read("digests", _digests_of(nil)).select("digest")
    std_bands = read("bands", bands_of(nil)).select(
        F.col("doc_id").alias("old_doc"), "b", "h1", "h2"
    )
    std_sh = read("shingles", _h64_of(nil)).select(
        F.col("doc_id").alias("old_doc"), F.col("h64").alias("old_h64")
    )
    return gate_against(batch_df, std_digests, std_bands, std_sh, threshold)


def gate_against(
    batch_df: DataFrame,
    std_digests: DataFrame,
    std_bands: DataFrame,
    std_sh: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Store-free core of the gate (standing state passed as DataFrames):
    exact digest gate (within-batch keeps the min doc_id), LSH + exact
    Jaccard near-dup gate vs the standing corpus, and the deterministic
    within-batch rule (a doc is dropped if it verifies >= threshold
    against ANY smaller-id batch doc).  ``std_sh`` carries the compact
    form, (old_doc, old_h64); verification intersects 64-bit hash
    arrays on both sides (collision bound in the module docstring).
    Registered as the oracle-checked query ``ingest_dedup_gate``
    (queries/dedup_policy.py), whose DuckDB oracle intersects the raw
    STRING shingles -- so the compact representation is pinned against
    exact string Jaccard.

    Returns the admitted rows: every column of ``batch_df`` plus the
    standing-store projections the landing step writes -- ``digest``,
    the base hashes ``hs`` (bands) and the compact ``h64`` array.  The
    plan reads ``batch_df`` once: within-batch exact dedup is one
    aggregate, ``min(struct(doc_id, ...))`` per digest, and every later
    step derives from its output."""
    rest = [c for c in batch_df.columns if c != "doc_id"]
    survivors = (
        batch_df.select(_digest(), F.struct("doc_id", *rest).alias("row"))
        .groupBy("digest")
        .agg(F.min("row").alias("row"))
        .join(std_digests, "digest", "left_anti")
        .select("row.*", "digest")
    )

    # near-dup gate: batch bands vs standing bands + within-batch pairs.
    # Candidate pairs are NOT deduplicated before verification: a pair
    # colliding in several of the N_BANDS bands is verified once per
    # band, which costs less on batch-sized inputs than the shuffle a
    # dropDuplicates adds.  Every rejection feeds one left-anti join, so
    # the rejected sets need no distinct either.
    hashed = hashed_of(survivors).select("doc_id", "hs", F.expr(_H64).alias("h64"))
    b_bands = bands_from_hashed(hashed)
    b_sh = hashed.select("doc_id", "h64")
    cand_corpus = std_bands.join(
        F.broadcast(b_bands.withColumnRenamed("doc_id", "new_doc")),
        ["b", "h1", "h2"],
    ).select("new_doc", "old_doc")
    inter_c = F.size(F.array_intersect("h64", "old_h64"))
    rejected_vs_corpus = (
        cand_corpus.join(
            F.broadcast(b_sh.withColumnRenamed("doc_id", "new_doc")), "new_doc"
        )
        .join(std_sh, "old_doc")
        .filter(
            inter_c.cast("double")
            / (F.size("h64") + F.size("old_h64") - inter_c)
            >= threshold
        )
        .select("new_doc")
    )
    # within-batch near-dups: LSH self-join on the (small) batch band
    # table; the LARGER doc_id of each verified pair is dropped
    a, c = b_bands.alias("a"), b_bands.alias("c")
    cand_self = a.join(
        c,
        (F.col("a.b") == F.col("c.b"))
        & (F.col("a.h1") == F.col("c.h1"))
        & (F.col("a.h2") == F.col("c.h2"))
        & (F.col("a.doc_id") < F.col("c.doc_id")),
    ).select(
        F.col("a.doc_id").alias("keep_doc"),
        F.col("c.doc_id").alias("drop_doc"),
    )
    sa = b_sh.select(F.col("doc_id").alias("keep_doc"), F.col("h64").alias("ka"))
    sb = b_sh.select(F.col("doc_id").alias("drop_doc"), F.col("h64").alias("kb"))
    inter_s = F.size(F.array_intersect("ka", "kb"))
    rejected_in_batch = (
        cand_self.join(F.broadcast(sa), "keep_doc")
        .join(F.broadcast(sb), "drop_doc")
        .filter(
            inter_s.cast("double") / (F.size("ka") + F.size("kb") - inter_s)
            >= threshold
        )
        .select(F.col("drop_doc").alias("new_doc"))
    )
    rejected = rejected_vs_corpus.unionByName(rejected_in_batch)
    admitted = hashed.join(
        rejected.withColumnRenamed("new_doc", "doc_id"), "doc_id", "left_anti"
    )
    return survivors.join(admitted, "doc_id")


def _land(
    gated: DataFrame,
    batch_id: int,
    accepted_dir: str,
    accepted_cols: list[str],
    derived: dict[str, Callable[[DataFrame], DataFrame]],
) -> int:
    """Land one gated micro-batch and return the number of rows admitted.

    ``gated`` is materialized ONCE, by an eager local checkpoint whose
    job also counts its rows (an ``Observation``, no separate probe).
    The checkpoint cuts the lineage: nothing written below can re-run
    the gate, whose plan reads the standing stores this step appends
    to.  The checkpoint's blocks hold the admitted rows of one batch;
    Spark's ContextCleaner removes them once the driver JVM has
    garbage-collected the frame, which it may as soon as this call
    returns (at the latest on the cleaner's periodic GC).

    Zero admitted: nothing is written, and every ``_batch=<id>``
    partition a prior attempt of this batch left (the accepted store
    may not exist yet, and a replay's gate outcome may have changed --
    e.g. a restart with a stricter threshold against the same
    checkpoint) is dropped, since dynamic overwrite with zero rows
    touches nothing.  Otherwise the ``accepted_cols`` projection lands
    in ``accepted_dir`` FIRST; then each ``derived[base_dir](landing)``
    is written concurrently (independent batch-sized jobs, so the wall
    is the slowest write, not the sum of their fixed write/commit
    overheads).  The writer threads inherit the caller's job group and
    local properties, so job-group accounting and ``cancelJobGroup``
    cover them."""
    spark = gated.sparkSession
    obs = Observation()
    landing = gated.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    admitted = obs.get["n"]
    if admitted == 0:
        for base in (accepted_dir, *derived):
            drop_batch(spark, base, batch_id)
        return 0
    write_batch(landing.select(*accepted_cols), batch_id, accepted_dir)

    def write(base: str, derive: Callable[[DataFrame], DataFrame]) -> None:
        write_batch(derive(landing), batch_id, base)

    with ThreadPoolExecutor(max_workers=len(derived)) as pool:
        # one wrapper per task: each thread gets its own copy of the
        # caller's local properties
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), base, derive)
            for base, derive in derived.items()
        ]
        for f in futures:
            f.result()
    return admitted


def apply_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    threshold: float = JACCARD_THRESHOLD,
) -> int:
    """Idempotent per-batch body: gate, land survivors, extend the
    standing stores -- every write into a _batch=<id> partition via
    dynamic overwrite (replay rewrites, never duplicates).  Returns the
    number of documents admitted.

    Ordering is load-bearing: the gated batch lands in the accepted
    store FIRST, and the digest / band / shingle appends all derive from
    ONE materialization of the admitted rows and their projections
    (``_land``), whose lineage cannot reach the standing stores.  The
    gate's lazy plan does reach them: derived from it, every write would
    re-run the whole gate (store scans and joins) while earlier writes
    of the same batch change those stores.  The gate and its
    materialization scan ``batch_df`` once."""
    return _land(
        gate_batch(batch_df, store_dir, threshold, exclude_batch=batch_id),
        batch_id,
        accepted_dir,
        batch_df.columns,
        {
            f"{store_dir}/digests": lambda d: d.select("doc_id", "digest"),
            f"{store_dir}/bands": bands_from_hashed,
            f"{store_dir}/shingles": lambda d: d.select("doc_id", "h64"),
        },
    )


def stream_ingest_with_dedup(
    stream_docs: DataFrame,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    on_batch_end=None,
) -> StreamingQuery:
    """Run the gated ingest over a documents stream through
    ``jobs.run_foreach_batch`` and return the finished query;
    ``on_batch_end`` is the runner's failure-injection seam."""
    return run_foreach_batch(
        stream_docs,
        lambda batch_df, batch_id: apply_ingest_batch(
            batch_df, batch_id, store_dir, accepted_dir, threshold
        ),
        checkpoint_dir,
        on_batch_end,
    )
