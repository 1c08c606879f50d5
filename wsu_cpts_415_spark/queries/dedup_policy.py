"""Production dedup policies on top of the pair/cluster machinery:
quality-aware survivor selection and incremental new-batch-vs-corpus
near-dup checking.

The clustering operators (queries/graph_ops.py) pick survivors by
min-doc_id -- deterministic, but blind.  A real curation run keeps the
BEST copy (highest quality score) of each duplicate group, and a real
ingest pipeline doesn't re-pair the whole corpus per batch: it checks
the arriving sliver against the standing corpus.  Both shapes are here,
composed from the already-oracle-checked quality and LSH layers.

Scale posture:
  * survivorship adds one broadcast-size join (cluster labels are the
    near-dup sliver) and a per-cluster window over cluster-sized groups;
  * the incremental check is the asymmetric LSH join: the new batch's
    band table (10% here; per-batch slivers in production) BROADCASTS
    against the corpus band table, so the corpus is scanned but never
    shuffled, and only colliding candidates get exact verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.queries.corpus_ops import _DUCK_BUCKET, _SPARK_BUCKET
from wsu_cpts_415_spark.queries.graph_ops import (
    _NEARDUP_DUCK_CTES,
    _neardup_labels,
)
from wsu_cpts_415_spark.queries.similarity import (
    JACCARD_THRESHOLD,
    LSH_PAIRS_DUCK_CTES,
    _bands_staged,
    _h64_staged,
    _hashed_staged,
    text_digest,
)
from wsu_cpts_415_spark.queries.text import QUALITY_DUCK_CTES
from wsu_cpts_415_spark.registry import register

NEW_BATCH_BUCKET = 90  # md5 bucket >= this = "the batch arriving now"


@register(
    "dedup_survivorship_quality",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_DUCK_CTES},
    {QUALITY_DUCK_CTES},
    ranked AS (
        SELECT c.doc_id, c.cluster_id, q.quality,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.quality DESC, c.doc_id
               ) AS rn
        FROM clusters c JOIN qual q ON q.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, quality, rn = 1 AS is_survivor
    FROM ranked
    ORDER BY doc_id
    """,
)
def dedup_survivorship_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-the-best dedup: each near-dup cluster's survivor is its
    HIGHEST-quality member (doc_id tie-break), not its lowest id -- the
    policy real curation runs use (C4 and friends keep the longest/
    cleanest copy, not the first seen).  Output: every document with its
    cluster, quality, and survivor verdict.

    Composes the connected-components labels (corpus-sliver loop) with
    the row-local quality score; the only new work is one join and a
    per-cluster window whose partitions are cluster-sized."""
    from wsu_cpts_415_spark.queries.text import quality_score

    labels = _neardup_labels(spark, sf_dir)
    qual = quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return (
        labels.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.col("rn") == 1).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


INC_CHECK_ORACLE = f"""
    WITH {LSH_PAIRS_DUCK_CTES},
    bucketed AS (
        SELECT doc_id, {_DUCK_BUCKET.format(m=100)} AS bucket
        FROM documents
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
    SELECT new_doc, old_doc, jaccard
    FROM verified
    ORDER BY new_doc, old_doc
    """


@register("incremental_neardup_check", oracle=INC_CHECK_ORACLE)
def incremental_neardup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: the arriving batch (md5 bucket >=
    {NEW_BATCH_BUCKET}, ~10% of the corpus standing in for a day's
    crawl) is LSH-checked against the STANDING corpus only -- no
    old-old pairs, no corpus self-join.  Output: every (new, old)
    candidate collision with its exact verified Jaccard.

    The asymmetric plan is the point: the batch's band table broadcasts
    (a per-batch sliver at production scale), the corpus band table
    streams map-side against it, and only colliding candidates fetch
    shingle sets for verification.  Per-batch cost is O(corpus scan) +
    O(collisions) -- independent of corpus pair count, which is what
    makes daily ingest dedup affordable at 100 TB."""
    hashed = _hashed_staged(spark, sf_dir)
    bucket = F.expr(_SPARK_BUCKET.format(m=100))
    bands = _bands_staged(spark, sf_dir).withColumn("bucket", bucket)
    newb = bands.filter(F.col("bucket") >= NEW_BATCH_BUCKET).select(
        F.col("doc_id").alias("new_doc"), "b", "h1", "h2"
    )
    oldb = bands.filter(F.col("bucket") < NEW_BATCH_BUCKET).select(
        F.col("doc_id").alias("old_doc"), "b", "h1", "h2"
    )
    cand = (
        oldb.join(F.broadcast(newb), ["b", "h1", "h2"])
        .select("new_doc", "old_doc")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    sh = hashed.select("doc_id", "shingles")
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = F.size(F.array_intersect("sa.shingles", "sb.shingles"))
    return (
        cand.join(sa, F.col("new_doc") == F.col("sa.doc_id"))
        .join(sb, F.col("old_doc") == F.col("sb.doc_id"))
        .select(
            "new_doc",
            "old_doc",
            F.round(
                inter.cast("double")
                / (
                    F.size("sa.shingles")
                    + F.size("sb.shingles")
                    - inter
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("new_doc", "old_doc")
    )


def _inc_bucketed_layout(spark: SparkSession, sf_dir: str) -> dict:
    """Write-once-per-(session, dataset) BUCKETED standing-corpus layout
    for the incremental check: band table bucketed+sorted on the LSH
    join key (b, h1, h2), shingle table bucketed on doc_id.  The batch
    band table is written with the SAME bucketing so the band join is
    co-located.  At production scale this write runs in the nightly
    corpus-maintenance job; per-batch ingest then joins against it with
    ZERO Exchange on the corpus side regardless of corpus size
    (tests/test_plans.py gate)."""
    import hashlib as _hl

    from wsu_cpts_415_spark.io.bucketing import write_bucketed
    from wsu_cpts_415_spark.ops.staging import staged_model

    def build() -> dict:
        import shutil

        suffix = _hl.md5(sf_dir.encode()).hexdigest()[:8]
        names = {
            "std_bands": f"inc_std_bands_{suffix}",
            "new_bands": f"inc_new_bands_{suffix}",
            "std_shingles": f"inc_std_shingles_{suffix}",
        }
        # the default in-memory catalog forgets managed tables between
        # sessions but their warehouse dirs survive; clear both so the
        # overwrite below never hits LOCATION_ALREADY_EXISTS
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
        bucket = F.expr(_SPARK_BUCKET.format(m=100))
        bands = _bands_staged(spark, sf_dir).withColumn("bucket", bucket)
        write_bucketed(
            bands.filter(F.col("bucket") < NEW_BATCH_BUCKET)
            .select("doc_id", "b", "h1", "h2"),
            names["std_bands"],
            ["b", "h1", "h2"],
        )
        write_bucketed(
            bands.filter(F.col("bucket") >= NEW_BATCH_BUCKET)
            .select("doc_id", "b", "h1", "h2"),
            names["new_bands"],
            ["b", "h1", "h2"],
        )
        sh = _hashed_staged(spark, sf_dir).withColumn("bucket", bucket)
        write_bucketed(
            sh.filter(F.col("bucket") < NEW_BATCH_BUCKET)
            .select("doc_id", "shingles"),
            names["std_shingles"],
            ["doc_id"],
        )
        return names

    return staged_model(spark, "inc_bucketed_layout", sf_dir, build)


@register("incremental_neardup_check_bucketed", oracle=INC_CHECK_ORACLE)
def incremental_neardup_check_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental check over the BUCKETED standing-corpus layout
    (same semantics and oracle as incremental_neardup_check; different
    physical strategy).  The broadcast-asymmetric form bounds per-batch
    cost when the batch is sliver-sized; this form additionally survives
    LARGE batches: the band join is bucket-co-located (no broadcast
    bound, no Exchange on either band side) and candidate verification
    joins the doc_id-bucketed shingle store, so the corpus is never
    shuffled no matter how big the batch or the corpus grows -- the
    shuffle profile is flat in corpus size (SHUFFLES.md).

    If the session's warehouse location is unwritable (bucketed layouts
    need saveAsTable), semantics win over strategy: fall back to the
    broadcast-asymmetric plan, which returns identical rows.  Only the
    expected environment failures (AnalysisException from saveAsTable /
    catalog, OSError from the warehouse filesystem) trigger the
    fallback -- a programming error in the layout build must surface."""
    from pyspark.errors import AnalysisException

    try:
        names = _inc_bucketed_layout(spark, sf_dir)
    except (AnalysisException, OSError) as exc:
        # loud fallback: results stay identical but the bucketed physical
        # strategy is NOT being exercised -- the plan gate
        # (tests/test_plans.py) fails locally if this triggers there, so
        # a layout regression cannot hide behind green oracles
        import warnings

        warnings.warn(
            f"bucketed layout unavailable ({exc!r}); falling back to the"
            " broadcast-asymmetric incremental check",
            RuntimeWarning,
            stacklevel=2,
        )
        return incremental_neardup_check(spark, sf_dir)
    std_b = spark.table(names["std_bands"]).withColumnRenamed(
        "doc_id", "old_doc"
    )
    new_b = spark.table(names["new_bands"]).withColumnRenamed(
        "doc_id", "new_doc"
    )
    cand = (
        std_b.join(new_b, ["b", "h1", "h2"])
        .select("new_doc", "old_doc")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    bucket = F.expr(_SPARK_BUCKET.format(m=100))
    new_sh = (
        _hashed_staged(spark, sf_dir)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") >= NEW_BATCH_BUCKET)
        .select("doc_id", "shingles")
        .alias("sa")
    )
    std_sh = spark.table(names["std_shingles"]).alias("sb")
    inter = F.size(F.array_intersect("sa.shingles", "sb.shingles"))
    return (
        cand.join(F.broadcast(new_sh), F.col("new_doc") == F.col("sa.doc_id"))
        .join(std_sh, F.col("old_doc") == F.col("sb.doc_id"))
        .select(
            "new_doc",
            "old_doc",
            F.round(
                inter.cast("double")
                / (F.size("sa.shingles") + F.size("sb.shingles") - inter),
                6,
            ).alias("jaccard"),
        )
        .orderBy("new_doc", "old_doc")
    )


@register(
    "ingest_dedup_gate",
    oracle=f"""
    WITH {{LSH}},
    bucketed AS (
        SELECT doc_id, {{BUCKET}} AS bucket FROM documents
    ),
    batch AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN bucketed k ON k.doc_id = d.doc_id
        WHERE k.bucket >= {{NEWB}}
    ),
    standing AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN bucketed k ON k.doc_id = d.doc_id
        WHERE k.bucket < {{NEWB}}
    ),
    bdig AS (SELECT doc_id, md5(text) AS digest FROM batch),
    sdig AS (SELECT DISTINCT md5(text) AS digest FROM standing),
    keepx AS (SELECT MIN(doc_id) AS doc_id FROM bdig GROUP BY digest),
    fresh AS (
        SELECT kx.doc_id FROM keepx kx
        JOIN bdig bd ON bd.doc_id = kx.doc_id
        LEFT JOIN sdig sd ON sd.digest = bd.digest
        WHERE sd.digest IS NULL
    ),
    nb AS (SELECT bb.* FROM bands bb JOIN fresh f ON f.doc_id = bb.doc_id),
    ob AS (
        SELECT bb.* FROM bands bb
        JOIN bucketed k ON k.doc_id = bb.doc_id WHERE k.bucket < {{NEWB}}
    ),
    candc AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
        FROM nb n JOIN ob o ON n.b = o.b AND n.h1 = o.h1 AND n.h2 = o.h2
    ),
    rejc AS (
        SELECT DISTINCT c.new_doc
        FROM candc c
        JOIN sh sa ON sa.doc_id = c.new_doc
        JOIN sh so ON so.doc_id = c.old_doc
        WHERE CAST(len(list_intersect(sa.shingles, so.shingles)) AS DOUBLE)
              / (len(sa.shingles) + len(so.shingles)
                 - len(list_intersect(sa.shingles, so.shingles))) >= {{THRESH}}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS keep_doc, c2.doc_id AS drop_doc
        FROM nb a JOIN nb c2
          ON a.b = c2.b AND a.h1 = c2.h1 AND a.h2 = c2.h2
         AND a.doc_id < c2.doc_id
    ),
    rejs AS (
        SELECT DISTINCT cs.drop_doc AS new_doc
        FROM cands cs
        JOIN sh ka ON ka.doc_id = cs.keep_doc
        JOIN sh kb ON kb.doc_id = cs.drop_doc
        WHERE CAST(len(list_intersect(ka.shingles, kb.shingles)) AS DOUBLE)
              / (len(ka.shingles) + len(kb.shingles)
                 - len(list_intersect(ka.shingles, kb.shingles))) >= {{THRESH}}
    )
    SELECT f.doc_id FROM fresh f
    WHERE f.doc_id NOT IN (
        SELECT new_doc FROM rejc UNION SELECT new_doc FROM rejs)
    ORDER BY f.doc_id
    """.format(
        LSH=LSH_PAIRS_DUCK_CTES,
        BUCKET=_DUCK_BUCKET.format(m=100),
        NEWB=NEW_BATCH_BUCKET,
        THRESH=JACCARD_THRESHOLD,
    ),
)
def ingest_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the streaming crawl-ingest dedup gate
    (streaming/ingest_dedup.py:gate_against): the arriving batch (md5
    bucket >= {NEW_BATCH_BUCKET}) is admitted only if it passes the
    exact-digest gate (within-batch keeps the min doc_id), the LSH +
    exact-Jaccard near-dup gate against the standing corpus, and the
    deterministic within-batch near-dup rule (drop any doc verifying
    >= JACCARD_THRESHOLD Jaccard against a smaller-id batch doc).  The
    DuckDB oracle recomputes the full admission decision end-to-end, so
    the streaming sink's gating semantics sit inside the correctness
    gate.

    Scale: identical posture to incremental_neardup_check -- batch-side
    tables broadcast, the standing corpus is scanned, never shuffled."""
    from wsu_cpts_415_spark.streaming.ingest_dedup import gate_against

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_BUCKET.format(m=100))
    with_bucket = docs.withColumn("bucket", bucket)
    batch = with_bucket.filter(
        F.col("bucket") >= NEW_BATCH_BUCKET
    ).select("doc_id", "text")
    standing = with_bucket.filter(F.col("bucket") < NEW_BATCH_BUCKET)
    std_digests = standing.select("doc_id", text_digest())
    std_bands = (
        _bands_staged(spark, sf_dir)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < NEW_BATCH_BUCKET)
        .select("doc_id", "b", "h1", "h2")
    )
    std_sh = (
        # the gate's standing-store row format is the compact 64-bit
        # hash array (streaming/ingest_dedup.py round 9); the oracle
        # intersects the STRING shingles, pinning the compact form
        # against exact string Jaccard.  r12: read the staged narrow
        # (doc_id, h64) layer -- the gate's own ``shingle_h64``
        # projection -- instead of re-hashing the wide string-shingle
        # table per run (guide §4.1: the rehash is an interpreted HOF
        # over every standing shingle)
        _h64_staged(spark, sf_dir)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < NEW_BATCH_BUCKET)
        .select("doc_id", "h64")
    )
    return (
        gate_against(batch, std_digests, std_bands, std_sh)
        .select("doc_id")
        .orderBy("doc_id")
    )
