"""Streaming crawl ingest with a dedup gate: the production composition
of the incremental-check machinery (queries/dedup_policy.py) behind a
Structured Streaming foreachBatch sink.

Each micro-batch of arriving documents is gated BEFORE landing:

  1. exact gate -- batch docs whose text digest already exists in the
     standing digest store are dropped (within-batch exact dups keep the
     min doc_id);
  2. near-dup gate -- the batch's LSH band table joins the standing band
     store (batch side broadcast: a per-batch sliver), collisions are
     verified by exact shingle Jaccard, and docs at/above the threshold
     are dropped; within-batch verified pairs drop the larger doc_id
     (deterministic greedy);
  3. survivors land in the accepted store AND their digests / bands /
     shingles are appended to the standing stores, so batch N+1 dedups
     against everything batch N admitted.

Exactly-once: every store write is partitioned by batch id via dynamic
partition overwrite (the idempotent-by-batch-id pattern proven in
streaming/jobs.py) -- a batch replayed after a mid-commit crash rewrites
its own partitions, so neither the corpus stores nor the accepted store
can double-apply.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.queries.similarity import bands_of, hashed_of

JACCARD_THRESHOLD = 0.5  # the 4-band/2-row s-curve midpoint


def _digests_of(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("digest"))


def _h64_of(docs: DataFrame) -> DataFrame:
    """(doc_id, h64): the compact 64-bit shingle-hash array per doc --
    the standing shingle store's row format (8 bytes per shingle; the
    raw n-gram strings never leave the batch that produced them)."""
    return hashed_of(docs).select(
        "doc_id",
        F.expr("transform(shingles, s -> xxhash64(s))").alias("h64"),
    )


def corpus_fingerprint(corpus_docs: DataFrame) -> list[int]:
    """(row count, xor of per-doc 64-bit hashes): an order-insensitive
    corpus identity, one scan of (doc_id, text).  Used to decide whether
    an existing standing store was built from THIS corpus -- the
    restart-skip check below -- at a cost linear in corpus bytes with a
    tiny constant, vs the shingle+band build it avoids."""
    row = corpus_docs.agg(
        F.count("*"), F.expr("bit_xor(xxhash64(doc_id, text))")
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0)]


def _marker_path(store_dir: str, gate: str = "dedup") -> str:
    # per-GATE marker name: if two gates ever share a store_dir, one
    # gate's marker must not make the other skip its own build
    return f"{store_dir}/_corpus_id_{gate}"


def _read_marker(
    spark: SparkSession, store_dir: str, gate: str = "dedup"
) -> list[int] | None:
    # ANY read failure means "no trustworthy marker": a corrupt or
    # half-written marker file raises SparkException (not
    # AnalysisException), and trusting it -- or crashing on it -- would
    # either skip a needed rebuild or wedge the gate; rebuilding is
    # always the safe answer
    try:
        row = spark.read.parquet(_marker_path(store_dir, gate)).collect()
        if len(row) != 1:
            return None
        return [int(row[0]["n_docs"]), int(row[0]["xor_hash"])]
    except Exception:
        return None


def _stores_readable(spark: SparkSession, store_dir: str) -> bool:
    """True iff all three standing stores exist and their parquet
    footers resolve -- schema inference only, no job.  Guards the
    restart-skip: a matching marker with a missing/corrupt store must
    rebuild, not no-op."""
    for name in ("digests", "bands", "shingles"):
        try:
            spark.read.parquet(f"{store_dir}/{name}").schema
        except Exception:
            return False
    return True


def init_standing_stores(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Materialize the standing digest / band / shingle stores from the
    corpus (the nightly maintenance job's output).  Base data lands in
    the _batch=-1 partition so batch appends stay idempotent.

    Restart-skip (round 10): the stores are durable tables, so a gate
    RESTART over the same corpus must not pay the O(corpus) shingle +
    band rebuild -- and, worse, the rebuild's plain ``overwrite`` would
    wipe every ``_batch>=0`` partition the running gate had appended.
    A one-row ``_corpus_id`` marker (count + xor-of-doc-hashes,
    ``corpus_fingerprint``) written after a successful build makes init
    a READ when it matches: one corpus scan to recompute the
    fingerprint, no store touch.  A changed corpus (mismatch) rebuilds
    and re-marks.  Measured x100 (round 10): 102 s build -> ~seconds
    on restart.

    The build itself computes the shingle/hash projection ONCE and
    derives bands + compact shingle arrays from it (previously
    ``bands_of`` and ``_h64_of`` each re-ran the shingle math)."""
    from wsu_cpts_415_spark.queries.similarity import bands_from_hashed

    fp = corpus_fingerprint(corpus_docs)
    if _read_marker(spark, store_dir) == fp and _stores_readable(
        spark, store_dir
    ):
        # marker alone is not enough: if a store subdir was deleted or
        # lost while the marker survived, a silent no-op here would make
        # the gate fail later reading missing stores
        return
    base = corpus_docs
    hashed = hashed_of(base).persist()
    try:
        _digests_of(base).withColumn("_batch", F.lit(-1)).write.mode(
            "overwrite"
        ).partitionBy("_batch").parquet(f"{store_dir}/digests")
        bands_from_hashed(hashed).withColumn(
            "_batch", F.lit(-1)
        ).write.mode("overwrite").partitionBy("_batch").parquet(
            f"{store_dir}/bands"
        )
        hashed.select(
            "doc_id",
            F.expr("transform(shingles, s -> xxhash64(s))").alias("h64"),
        ).withColumn("_batch", F.lit(-1)).write.mode(
            "overwrite"
        ).partitionBy("_batch").parquet(f"{store_dir}/shingles")
    finally:
        hashed.unpersist()
    # marker LAST: a crash mid-build leaves no marker, so the next init
    # rebuilds instead of trusting half-written stores
    spark.createDataFrame(
        [(fp[0], fp[1])], "n_docs long, xor_hash long"
    ).coalesce(1).write.mode("overwrite").parquet(_marker_path(store_dir))


def gate_batch(
    batch_df: DataFrame,
    store_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    exclude_batch: int | None = None,
    _persists: list | None = None,
) -> DataFrame:
    """Pure gating logic (no writes): return the surviving rows of
    ``batch_df`` after the exact and near-dup gates against the standing
    stores.

    ``exclude_batch`` makes the gate REPLAY-DETERMINISTIC: a batch
    replayed after a crash that landed some of its own store partitions
    must not gate against them (it would see its own rows as standing
    and admit nothing, leaving the stores missing this batch's bands
    forever), so the reads drop the ``_batch=<exclude_batch>``
    partitions before gating.

    A missing store (first run with no ``--init-corpus``: the standing
    corpus starts empty and batch 0 creates the stores) gates against an
    empty standing frame of the right schema instead of crashing the
    stream with PATH_NOT_FOUND from inside the first micro-batch."""
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    nil = batch_df.limit(0)

    def read_store(name: str, empty: DataFrame) -> DataFrame:
        try:
            df = spark.read.parquet(f"{store_dir}/{name}")
        except AnalysisException:  # store not created yet -> empty corpus
            return empty
        if exclude_batch is not None:
            df = df.filter(F.col("_batch") != exclude_batch)
        return df.drop("_batch")

    std_digests = read_store("digests", _digests_of(nil)).select("digest")
    std_bands = read_store("bands", bands_of(nil)).select(
        F.col("doc_id").alias("old_doc"), "b", "h1", "h2"
    )
    std_sh = read_store("shingles", _h64_of(nil)).select(
        F.col("doc_id").alias("old_doc"), F.col("h64").alias("old_h64")
    )
    return gate_against(
        batch_df, std_digests, std_bands, std_sh, threshold, _persists=_persists
    )


def gate_against(
    batch_df: DataFrame,
    std_digests: DataFrame,
    std_bands: DataFrame,
    std_sh: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    _persists: list | None = None,
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
    exact string Jaccard."""
    docs = batch_df
    digests = _digests_of(docs)
    # within-batch exact dedup: keep the min doc_id per digest
    keep_exact = digests.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    fresh = keep_exact.join(std_digests.select("digest"), "digest", "left_anti")
    survivors = docs.join(fresh.select("doc_id"), "doc_id")

    # near-dup gate: batch bands vs standing bands + within-batch pairs.
    # The batch hash projection feeds four consumers (bands + both
    # verification sides); persist it once, registered for release with
    # the session cache manager.
    from pyspark import StorageLevel

    from wsu_cpts_415_spark.ops.staging import track_persist
    from wsu_cpts_415_spark.queries.similarity import bands_from_hashed

    hashed = hashed_of(survivors)
    if hashed.storageLevel == StorageLevel.NONE:
        hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        if _persists is not None:
            # per-batch caller (streaming sink) releases in its finally;
            # tracking session-wide would grow one entry per micro-batch
            _persists.append(hashed)
        else:
            track_persist(hashed)
    b_bands = bands_from_hashed(hashed)
    b_sh = hashed.select(
        "doc_id",
        F.expr("transform(shingles, s -> xxhash64(s))").alias("h64"),
    )
    cand_corpus = (
        std_bands.join(
            F.broadcast(b_bands.withColumnRenamed("doc_id", "new_doc")),
            ["b", "h1", "h2"],
        )
        .select("new_doc", "old_doc")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    inter_c = F.size(F.array_intersect("h64", "old_h64"))
    rejected_vs_corpus = (
        cand_corpus.join(
            F.broadcast(b_sh.withColumnRenamed("doc_id", "new_doc")), "new_doc"
        )
        .join(std_sh, "old_doc")
        .withColumn(
            "jaccard",
            inter_c.cast("double")
            / (F.size("h64") + F.size("old_h64") - inter_c),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc")
        .distinct()
    )
    # within-batch near-dups: LSH self-join on the (small) batch band
    # table; the LARGER doc_id of each verified pair is dropped
    a, c = b_bands.alias("a"), b_bands.alias("c")
    cand_self = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.h1") == F.col("c.h1"))
            & (F.col("a.h2") == F.col("c.h2"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("keep_doc"),
            F.col("c.doc_id").alias("drop_doc"),
        )
        .dropDuplicates(["keep_doc", "drop_doc"])
    )
    sa = b_sh.select(F.col("doc_id").alias("keep_doc"), F.col("h64").alias("ka"))
    sb = b_sh.select(F.col("doc_id").alias("drop_doc"), F.col("h64").alias("kb"))
    inter_s = F.size(F.array_intersect("ka", "kb"))
    rejected_in_batch = (
        cand_self.join(F.broadcast(sa), "keep_doc")
        .join(F.broadcast(sb), "drop_doc")
        .withColumn(
            "jaccard",
            inter_s.cast("double") / (F.size("ka") + F.size("kb") - inter_s),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("drop_doc").alias("new_doc"))
        .distinct()
    )
    rejected = rejected_vs_corpus.unionByName(rejected_in_batch).distinct()
    return survivors.join(
        rejected.withColumnRenamed("new_doc", "doc_id"), "doc_id", "left_anti"
    )


def _drop_batch_partition(spark: SparkSession, base_dir: str, batch_id: int) -> None:
    """Remove a ``_batch=<id>`` partition directory if it exists, via the
    Hadoop FileSystem API (works on any scheme the session can write).
    This is what dynamic partition overwrite does for partitions present
    in the new data; the zero-admitted replay path has no new data, so
    stale partitions from a prior attempt must be dropped explicitly."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/_batch={batch_id}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def apply_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """Idempotent per-batch body: gate, land survivors, extend the
    standing stores -- every write into a _batch=<id> partition via
    dynamic overwrite (replay rewrites, never duplicates).

    Ordering is load-bearing: the gated batch lands in the accepted
    store FIRST, and the standing-store appends are derived from the
    LANDED files, not from the gate's lazy plan -- the gate's lineage
    reads the standing stores, so writing a store mid-sequence
    invalidates the cached gate plan and a re-execution would see the
    batch's own rows as already-standing (gating everything out)."""
    spark = batch_df.sparkSession
    batch_df.persist()
    persists: list = []
    accepted = gate_batch(
        batch_df, store_dir, threshold, exclude_batch=batch_id,
        _persists=persists,
    ).persist()
    persists.append(accepted)
    try:
        # the probe below and the accepted write share the persisted
        # plan, so the standing-store scans + LSH joins run once per
        # batch, not twice
        if accepted.limit(1).count() == 0:
            # nothing admitted: the accepted store may not even exist
            # yet, so the write-then-derive sequence below would crash
            # on an unreadable empty directory.  But a REPLAY whose gate
            # outcome changed (e.g. the stream restarted with a stricter
            # --threshold against the same checkpoint) may have left the
            # prior attempt's partitions for this batch behind -- and
            # dynamic overwrite with zero rows touches nothing -- so
            # drop this batch's partitions explicitly to keep replays
            # deterministic under any threshold.
            for base in (
                accepted_dir,
                f"{store_dir}/digests",
                f"{store_dir}/bands",
                f"{store_dir}/shingles",
            ):
                _drop_batch_partition(spark, base, batch_id)
            return
        opts = {"partitionOverwriteMode": "dynamic"}
        (
            accepted.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .options(**opts)
            .partitionBy("_batch")
            .parquet(accepted_dir)
        )
        landed = (
            spark.read.parquet(accepted_dir)
            .filter(F.col("_batch") == batch_id)
            .drop("_batch")
        )
        # one shingle projection for both derived stores (bands_of and
        # _h64_of would each re-run the shingle math), and the three
        # store appends submitted CONCURRENTLY: they are independent
        # jobs over a ~batch-sized input, so the wall is the slowest
        # write, not the sum of three fixed write/commit overheads
        # (measured ~1.9 s -> ~0.8 s per batch at x10)
        from concurrent.futures import ThreadPoolExecutor

        from wsu_cpts_415_spark.queries.similarity import bands_from_hashed

        landed_hashed = hashed_of(landed).persist()
        persists.append(landed_hashed)
        derived = (
            ("digests", _digests_of(landed)),
            ("bands", bands_from_hashed(landed_hashed)),
            (
                "shingles",
                landed_hashed.select(
                    "doc_id",
                    F.expr(
                        "transform(shingles, s -> xxhash64(s))"
                    ).alias("h64"),
                ),
            ),
        )

        def _write(item) -> None:
            name, df = item
            (
                df.withColumn("_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .options(**opts)
                .partitionBy("_batch")
                .parquet(f"{store_dir}/{name}")
            )

        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(_write, derived))
    finally:
        for df in persists:
            try:
                df.unpersist()
            except Exception:
                pass
        batch_df.unpersist()


def stream_ingest_with_dedup(
    stream_docs: DataFrame,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    on_batch_end=None,
) -> None:
    """Run the gated ingest over a documents stream with
    trigger(availableNow).  ``on_batch_end(batch_id)`` is the same
    failure-injection seam as stream_maintain_rollup."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_ingest_batch(batch_df, batch_id, store_dir, accepted_dir, threshold)
        if on_batch_end is not None:
            on_batch_end(batch_id)

    q = (
        stream_docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
