"""Streaming crawl ingest with a dedup gate: the production composition
of the incremental-check machinery (queries/dedup_policy.py) behind a
Structured Streaming foreachBatch sink.

Each micro-batch of arriving documents is gated BEFORE landing:

  1. exact gate -- batch docs whose text digest already exists in the
     standing digest store are dropped (within-batch exact dups keep the
     min doc_id: one ``min(struct(doc_id, ...))`` aggregate per digest);
  2. near-dup gate -- each surviving doc becomes one hashed row (its
     batch columns, digest, base hashes and 64-bit shingle hashes); its
     LSH band rows carry those shingle hashes and are broadcast (a
     per-batch sliver) into both the join with the standing band store
     and the within-batch band self-join, collisions are verified by
     exact shingle Jaccard on the arrays each side already holds, and
     docs at/above the threshold are dropped; within-batch verified
     pairs drop the larger doc_id (deterministic greedy);
  3. survivors land in the accepted store AND their digests / bands /
     shingles are appended to the standing stores, so batch N+1 dedups
     against everything batch N admitted.

Landing (``_land``, shared with streaming/line_gate.py): the admitted
rows and their store projections are materialized ONCE by
``_materialize_and_write``, an eager local checkpoint whose job also
counts them (an ``Observation``; no probe job).  The accepted write
goes first, then the three store appends run concurrently, all from
that materialization.  Its lineage cannot reach the standing stores,
so no write re-runs the gate against stores that earlier writes of the
same batch have changed.  Its batch-sized blocks are released once the
writes finish.  The gate and the landing scan the micro-batch once in
10 Spark jobs (6 query stages of the checkpoint, 4 writes), and the
standing stores are read with their pinned schemas (``STORE_SCHEMAS``:
no footer-inference job, and no store derivation is built only to type
the read).

Row formats: the gate keeps no derivation of its own.  The digest,
band and compact shingle-hash rows, and the Jaccard threshold, are the
registry's (queries/similarity.py: ``text_digest``,
``bands_from_hashed``, ``shingle_h64``, ``JACCARD_THRESHOLD``), the
same definitions that build the staged ``minhash_bands`` and
``shingle_h64`` layers the batch face
(queries/dedup_policy.py:ingest_dedup_gate) gates against, so the face
and the gate cannot drift apart.

Init (``_init_stores``, shared too) builds the stores through the same
helper: one corpus scan is materialized as the rows every store derives
from, observes the corpus fingerprint on the way (no fingerprint job),
and feeds the concurrent store writes; the restart marker is written
last, from a JVM-side frame, so init starts no Python worker.

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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.util import inheritable_thread_target

from wsu_cpts_415_spark.ops.staging import (
    content_fingerprint,
    fingerprint_aggs,
    fingerprint_of,
)
from wsu_cpts_415_spark.queries.similarity import (
    JACCARD_THRESHOLD,
    _spark_hashed,
    bands_from_hashed,
    shingle_h64,
    text_digest,
)
from wsu_cpts_415_spark.streaming.jobs import (
    drop_batch,
    path_exists,
    run_foreach_batch,
    write_batch,
)

def _read_store(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """The standing store at ``path``, read with ``schema`` -- the DDL
    of the rows it was written with, pinned next to the store's
    derivation (``STORE_SCHEMAS``, ``line_gate.LINE_COUNTS_SCHEMA``) --
    plus ``_batch int``.  The read infers nothing from parquet footers
    and costs no job, and planning it builds no derivation pipeline only
    to read that pipeline's schema.

    A missing store (first run with no ``--init-corpus``: the standing
    corpus starts empty and batch 0 creates the store) reads as an empty
    frame of ``schema``, built on the JVM side by a path-less read.  The
    path is checked first (``jobs.path_exists``, no job), so no read of
    a missing path is attempted: that read would fail with PATH_NOT_FOUND
    after logging a stack trace.  ``exclude_batch`` makes the gate
    REPLAY-DETERMINISTIC: a batch replayed after a crash that landed some
    of its own store partitions must not gate against them (it would
    see its own rows as standing and admit nothing, leaving the stores
    missing this batch's rows forever), so the read drops the
    ``_batch=<exclude_batch>`` partition."""
    if not path_exists(spark, path):  # store not created yet -> empty corpus
        return spark.read.schema(schema).parquet()
    df = spark.read.schema(f"{schema}, _batch int").parquet(path)
    if exclude_batch is not None:
        df = df.filter(F.col("_batch") != exclude_batch)
    return df.drop("_batch")


# the standing stores' base rows, derived from the (doc_id, digest, hs,
# h64) rows both the per-batch landing and the corpus build materialize
_STORES: dict[str, Callable[[DataFrame], DataFrame]] = {
    "digests": lambda d: d.select("doc_id", "digest"),
    "bands": bands_from_hashed,
    "shingles": lambda d: d.select("doc_id", "h64"),
}
# ... and the schema each one is written and read with
STORE_SCHEMAS = {
    "digests": "doc_id long, digest string",
    "bands": "doc_id long, b int, h1 long, h2 long",
    "shingles": "doc_id long, h64 array<long>",
}

_FP_COLS = ["doc_id", "text"]
_MARKER_SCHEMA = "n_docs long, xor_hash long, sum_hash decimal(38,0)"


def _overwrite_base(df: DataFrame, base: str) -> None:
    """Replace the whole store at ``base`` by ``df`` as its ``_batch=-1``
    partition (every appended ``_batch>=0`` partition goes with it)."""
    df.withColumn("_batch", F.lit(-1)).write.mode("overwrite").partitionBy(
        "_batch"
    ).parquet(base)


def _init_stores(
    spark: SparkSession,
    corpus_docs: DataFrame,
    store_dir: str,
    gate: str,
    project: Callable[[DataFrame], DataFrame],
    stores: dict[str, Callable[[DataFrame], DataFrame]],
) -> None:
    """Build each named standing store under ``store_dir`` from the
    corpus (the nightly maintenance job's output) as its base
    ``_batch=-1`` partition, unless this gate already built them all
    from this corpus.  ``project`` maps the corpus to the rows every
    store derives from, and ``stores`` maps each store name to that
    derivation.

    Restart-skip (round 10): the stores are durable tables, so a gate
    RESTART over the same corpus must not pay the O(corpus) rebuild --
    and, worse, the rebuild's whole-store ``overwrite`` would wipe every
    ``_batch>=0`` partition the running gate had appended.  A one-row
    per-gate marker (``_corpus_id_<gate>``, so gates sharing a
    ``store_dir`` never skip each other's builds) holds the corpus's
    ``content_fingerprint`` over (doc_id, text).  The marker is read
    first, with its pinned schema (one job), and only when its
    ``_SUCCESS`` file exists (a cold init attempts no read of a missing
    path).  Init is a READ only when every named store holds the
    ``_SUCCESS`` file of a completed write (checked through the Hadoop
    FileSystem API: no job) AND the marker matches the corpus's
    fingerprint (one aggregate, two jobs): a store lost (or left
    half-written) while its marker survived must rebuild, not leave the
    gate gating against an empty corpus.  Any marker read failure
    (missing, corrupt or half-written, or an older marker without the
    ``sum_hash`` column) counts as no marker, and no marker skips
    straight to the build: rebuilding is always the safe answer.

    The build scans the corpus once: ``project``'s rows are materialized
    by ``_materialize_and_write``, whose job also observes the
    fingerprint (``ops.staging.fingerprint_aggs``, an ``Observation`` on
    the scan; no separate fingerprint job), and every store is written
    from them concurrently; only when AQE drops that observation (see
    ``_materialize_and_write``) is the fingerprint computed directly.
    The marker is written LAST, from a one-row JVM-side frame (no Python
    worker), so a crash mid-build leaves none.  Measured x100 (round
    10): 102 s build -> ~seconds on restart."""
    marker = f"{store_dir}/_corpus_id_{gate}"
    row = None
    if path_exists(spark, f"{marker}/_SUCCESS"):
        try:
            (row,) = spark.read.schema(_MARKER_SCHEMA).parquet(marker).collect()
        except Exception:  # corrupt, or not one row: no marker
            pass
    if (
        row is not None
        and all(path_exists(spark, f"{store_dir}/{n}/_SUCCESS") for n in stores)
        and tuple(row) == content_fingerprint(corpus_docs, _FP_COLS)
    ):
        return
    obs = Observation()
    observed = _materialize_and_write(
        project(corpus_docs.observe(obs, *fingerprint_aggs(_FP_COLS))),
        obs,
        _overwrite_base,
        lambda _: [{f"{store_dir}/{n}": d for n, d in stores.items()}],
    )
    n_docs, xor_hash, sum_hash = (
        content_fingerprint(corpus_docs, _FP_COLS)
        if observed is None
        else fingerprint_of(observed)
    )
    spark.range(0, 1, 1, 1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(xor_hash).cast("long").alias("xor_hash"),
        F.lit(str(sum_hash)).cast("decimal(38,0)").alias("sum_hash"),
    ).write.mode("overwrite").parquet(marker)


def _store_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, digest, hs, h64): the rows every dedup-gate store derives
    from (``_STORES``), one per document, computed in one scan."""
    rows = _spark_hashed(docs.select("doc_id", "text", text_digest()), "digest")
    return rows.select("doc_id", "digest", "hs", shingle_h64())


def init_standing_stores(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Materialize the standing digest / band / shingle stores from the
    corpus through ``_init_stores`` (restart-skip included).  A build
    materializes the corpus's (doc_id, digest, hs, h64) rows once and
    writes the three stores from them concurrently."""
    _init_stores(spark, corpus_docs, store_dir, "dedup", _store_rows, _STORES)


def gate_batch(
    batch_df: DataFrame,
    store_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Pure gating logic (no writes): ``gate_against`` over the standing
    stores under ``store_dir``, each read by ``_read_store`` with its
    pinned schema (a missing store is an empty corpus; ``exclude_batch``
    keeps replays deterministic)."""
    spark = batch_df.sparkSession

    def read(name: str) -> DataFrame:
        return _read_store(
            spark, f"{store_dir}/{name}", STORE_SCHEMAS[name], exclude_batch
        )

    return gate_against(
        batch_df, read("digests"), read("bands"), read("shingles"), threshold
    )


def _verified(a: str, b: str, threshold: float) -> Column:
    """Exact Jaccard of the 64-bit shingle-hash arrays ``a`` and ``b``
    reaches ``threshold``."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter) >= threshold


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
    against ANY smaller-id batch doc).  Each standing frame comes in its
    own store's ``STORE_SCHEMAS`` shape -- (doc_id, digest), (doc_id, b,
    h1, h2) and (doc_id, h64) -- and the gate renames the standing
    ``doc_id``/``h64`` to ``old_doc``/``old_h64`` itself.  Verification
    intersects 64-bit hash arrays on both sides (collision bound in the
    module docstring).
    Registered as the oracle-checked query ``ingest_dedup_gate``
    (queries/dedup_policy.py), whose DuckDB oracle intersects the raw
    STRING shingles -- so the compact representation is pinned against
    exact string Jaccard.

    Returns the admitted rows: every column of ``batch_df`` plus the
    standing-store projections the landing step writes -- ``digest``,
    the base hashes ``hs`` (bands) and the compact ``h64`` array.

    The plan reads ``batch_df`` once: within-batch exact dedup is one
    aggregate, ``min(struct(doc_id, ...))`` per digest, anti-joined with
    the standing digests.  Every survivor then becomes ONE ``hashed``
    row (every batch column, ``digest``, ``hs``, ``h64``), and its band
    rows carry ``h64`` along, so both candidate sets -- band collisions
    with the standing corpus and the within-batch band self-join --
    verify on arrays they already hold (one broadcast band table serves
    both).  The admitted rows are ``hashed`` minus a broadcast of the
    rejected ids: no join back to the survivors, so a ``doc_id`` offered
    twice with two texts stays two rows, each with its own hashes."""
    rest = [c for c in batch_df.columns if c != "doc_id"]
    std_bands = std_bands.select(
        F.col("doc_id").alias("old_doc"), "b", "h1", "h2"
    )
    std_sh = std_sh.select(
        F.col("doc_id").alias("old_doc"), F.col("h64").alias("old_h64")
    )
    survivors = (
        batch_df.select(text_digest(), F.struct("doc_id", *rest).alias("row"))
        .groupBy("digest")
        .agg(F.min("row").alias("row"))
        .join(std_digests.select("digest"), "digest", "left_anti")
        .select("row.*", "digest")
    )
    hashed = _spark_hashed(survivors, *rest, "digest").select(
        "doc_id", *rest, "digest", "hs", shingle_h64()
    )

    # near-dup gate: batch bands vs standing bands + within-batch pairs.
    # Candidate pairs are NOT deduplicated before verification: a pair
    # colliding in several of the N_BANDS bands is verified once per
    # band, which costs less on batch-sized inputs than the shuffle a
    # dropDuplicates adds.  Every rejection feeds one left-anti join, so
    # the rejected sets need no distinct either.
    b_bands = bands_from_hashed(hashed, "h64")
    rejected_vs_corpus = (
        std_bands.join(F.broadcast(b_bands), ["b", "h1", "h2"])
        .join(std_sh, "old_doc")
        .filter(_verified("h64", "old_h64", threshold))
        .select("doc_id")
    )
    # within-batch near-dups: LSH self-join on the (small) batch band
    # table; the LARGER doc_id of each verified pair is dropped
    a, c = b_bands.alias("a"), F.broadcast(b_bands).alias("c")
    rejected_in_batch = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.h1") == F.col("c.h1"))
            & (F.col("a.h2") == F.col("c.h2"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(_verified("a.h64", "c.h64", threshold))
        .select(F.col("c.doc_id").alias("doc_id"))
    )
    rejected = rejected_vs_corpus.unionByName(rejected_in_batch)
    return hashed.join(F.broadcast(rejected), "doc_id", "left_anti")


def _materialize_and_write(
    rows: DataFrame,
    obs: Observation,
    write: Callable[[DataFrame, str], None],
    waves: Callable[[dict | None], list[dict[str, Callable[[DataFrame], DataFrame]]]],
) -> dict | None:
    """Materialize ``rows`` ONCE, write from it, and return the metrics
    observed on the way.

    ``rows`` carries ``obs`` (an ``Observation`` anywhere in its plan),
    and the eager local checkpoint that materializes it fills ``obs`` in
    the same job: no probe job.  The checkpoint cuts the lineage, so no
    write re-runs ``rows``' plan (for a gated batch, a plan that reads
    the very stores the batch appends to).  ``waves(metrics)`` lists the
    writes as ``{base_dir: derive}`` waves, run one after another; the
    writes of one wave run concurrently, each ``write(derive(landing),
    base_dir)`` (independent jobs, so a wave's wall is its slowest
    write, not the sum of their fixed write/commit overheads).  The
    writer threads inherit the caller's job group and local properties,
    so job-group accounting and ``cancelJobGroup`` cover them.  The
    checkpoint's blocks are released before return.

    The metrics are None when the observation was lost: AQE replaces
    the consumers of a shuffle stage that came out empty by an empty
    relation, and an observation inside that stage goes with them (the
    line gate's build over a corpus with no lines)."""
    spark = rows.sparkSession
    landing = rows.localCheckpoint(eager=True)
    try:
        metrics = obs.get if obs._jo.getRow().size() else None

        def run(base: str, derive: Callable[[DataFrame], DataFrame]) -> None:
            write(derive(landing), base)

        for wave in waves(metrics):
            with ThreadPoolExecutor(max_workers=len(wave)) as pool:
                # one wrapper per task: each thread gets its own copy of
                # the caller's local properties
                futures = [
                    pool.submit(inheritable_thread_target(spark)(run), base, derive)
                    for base, derive in wave.items()
                ]
                for f in futures:
                    f.result()
        return metrics
    finally:
        landing._jdf.queryExecution().logical().rdd().unpersist(False)


def _land(
    gated: DataFrame,
    batch_id: int,
    accepted_dir: str,
    accepted_cols: list[str],
    derived: dict[str, Callable[[DataFrame], DataFrame]],
) -> int:
    """Land one gated micro-batch through ``_materialize_and_write`` and
    return the number of rows admitted (observed on its checkpoint).

    Zero admitted: nothing is written, and every ``_batch=<id>``
    partition a prior attempt of this batch left (the accepted store
    may not exist yet, and a replay's gate outcome may have changed --
    e.g. a restart with a stricter threshold against the same
    checkpoint) is dropped, since dynamic overwrite with zero rows
    touches nothing.  Otherwise the ``accepted_cols`` projection lands
    in ``accepted_dir`` FIRST; then each ``derived[base_dir](landing)``
    is written concurrently, every write into the batch's own partition
    (``jobs.write_batch``)."""
    obs = Observation()
    admitted = _materialize_and_write(
        gated.observe(obs, F.count(F.lit(1)).alias("n")),
        obs,
        lambda df, base: write_batch(df, batch_id, base),
        lambda m: (
            [{accepted_dir: lambda d: d.select(*accepted_cols)}, derived]
            if m["n"]
            else []
        ),
    )["n"]
    if admitted == 0:
        for base in (accepted_dir, *derived):
            drop_batch(gated.sparkSession, base, batch_id)
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
        {f"{store_dir}/{name}": derive for name, derive in _STORES.items()},
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
