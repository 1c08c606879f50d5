"""Connected components by alternating star contraction (large-star /
small-star, Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014) -- the second CC kernel in the engine.

``graph_ops.min_label_components`` converges in GRAPH-DIAMETER rounds:
perfect for near-dup clusters (dense, tiny, diameter 2-3), fatal for
adversarially chainy graphs (a 10k-hop path = 10k shuffles).  Star
contraction converges in O(log^2 n) rounds worst-case (~log n in
practice) REGARDLESS of diameter, which is why it is the industrial
choice for web-scale graphs.  Both kernels produce the identical
contract -- (doc_id, label=component-minimum vertex) -- so the
registered query shares ``neardup_clusters``'s oracle verbatim and the
property suite cross-checks the kernels against each other and a
union-find oracle (tests/test_star_cc.py).

One round is two per-center window minima plus one distinct over the
current edge set (three shuffles -- see ``_contraction_round`` for the
fusion story and its measured 1.85x round-cost cut):

* **large-star**: around every center ``c``, attach each strictly
  LARGER neighbor ``v`` to ``m = min(c, min(N(c)))`` -- long chains
  telescope toward minima;
* **small-star**: orient each edge (hi, lo); around every hi attach
  every smaller neighbor (and hi itself) to its minimum -- flattens
  partial stars into stars.

Scale posture: the loop runs on the PAIR GRAPH only (a sliver of the
corpus; the corpus never enters), per-round ``localCheckpoint``
truncates lineage (a staged parquet layer on a real cluster), and the
convergence probe is one scalar aggregate per round -- (edge count,
xor of xxhash64 edge hashes), an order-insensitive set fingerprint, so
convergence costs no extra join.  Self-edges never arise (large-star
attaches only v > c to m <= c; small-star drops lo == m).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.queries.graph_ops import (
    _NEARDUP_DUCK_CTES,
    NEARDUP_THRESHOLD,
)
from wsu_cpts_415_spark.queries.similarity import lsh_verified_pairs
from wsu_cpts_415_spark.registry import register

# O(log^2 n) worst case; 30 rounds covers any graph that fits on disk.
MAX_STAR_ROUNDS = 30


def _contraction_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round, fused to THREE shuffles.

    Per-round fixed cost is what prices this kernel at scale: the 1M-
    vertex chain probe measured ~2.7 s/round with the original
    groupBy-then-join formulation (per star: one shuffle for the
    min-per-center aggregate, one to shuffle the neighbor list into the
    join, one for the distinct -- 6 per round), and the per-round data
    is TINY, so stage count dominates wall.  A window min over the
    center key computes the same per-center minimum in ONE shuffle
    (sort by the partition key replaces agg+join), the large-star
    distinct is dropped (small-star's min is duplicate-insensitive and
    its own distinct dedupes; duplicate factor is bounded by vertex
    degree), and the small-star union's two branches reuse one
    exchange.  Round-10 1M-chain measurement: 63 -> 34 s same-machine
    at identical 21 rounds and identical components (an
    explode-based single-window variant measured 43 s -- the union +
    ReusedExchange form wins).

    * large-star: around every center ``c``, attach each strictly
      larger neighbor ``x`` to ``m = least(min(N(c)), c)`` -- output
      rows (hi=x, lo=m) are already oriented because m <= c < x;
    * small-star: around every hi, attach every lo-neighbor (and hi
      itself) to the minimum lo.
    """
    nbrs = edges.select(
        F.col("u").alias("c"), F.col("v").alias("x")
    ).unionByName(edges.select(F.col("v").alias("c"), F.col("u").alias("x")))
    wl = Window.partitionBy("c")
    large = (
        nbrs.withColumn("m", F.least(F.min("x").over(wl), F.col("c")))
        .filter(F.col("x") > F.col("c"))
        .select(F.col("x").alias("hi"), F.col("m").alias("lo"))
    )
    ws = Window.partitionBy("hi")
    om = large.withColumn("m", F.min("lo").over(ws))
    links = (
        om.filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("u"), F.col("m").alias("v"))
        .unionByName(
            om.select(F.col("hi").alias("u"), F.col("m").alias("v"))
        )
    )
    return links.distinct()


def star_contraction_components(
    pairs: DataFrame, stats: dict | None = None
) -> DataFrame:
    """(doc_id, label) for every vertex incident to a pair; label = the
    component-minimum vertex id.  Same contract as
    ``graph_ops.min_label_components``, diameter-independent rounds.

    ``stats`` (optional out-param): records ``rounds`` -- the number of
    contraction rounds to fixpoint -- so a caller can verify the
    O(log n) round bound on adversarial shapes the fixtures' dense
    2-3-diameter near-dup clusters never exercise."""
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .coalesce(4)
        # lazy: the first fingerprint aggregate below materializes the
        # checkpoint in the same job (r12)
        .localCheckpoint(eager=False)
    )
    vertices = (
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .coalesce(4)
        .localCheckpoint(eager=False)
    )

    def fingerprint(e: DataFrame):
        # (count, xor of 64-bit edge hashes): an order-insensitive set
        # fingerprint that cannot overflow under ANSI arithmetic
        return tuple(
            e.agg(
                F.count("*"), F.expr("bit_xor(xxhash64(u, v))")
            ).collect()[0]
        )

    prev = fingerprint(edges)
    converged = False
    for rnd in range(MAX_STAR_ROUNDS):
        edges = (
            _contraction_round(edges)
            .coalesce(4)
            # lazy: the fingerprint aggregate below materializes the
            # checkpoint in the same job (one job per round, not two)
            .localCheckpoint(eager=False)
        )
        cur = fingerprint(edges)
        if stats is not None:
            stats["rounds"] = rnd + 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a silent partial contraction would be WRONG clusters (and an
        # oracle mismatch) -- fail loudly instead
        raise RuntimeError(
            f"star contraction did not converge in {MAX_STAR_ROUNDS} rounds"
        )
    # fixpoint edges are stars (child, root) with root = component min;
    # roots themselves carry no outgoing edge, so label them via the
    # vertex table
    child_labels = (
        edges.select(
            F.greatest("u", "v").alias("doc_id"),
            F.least("u", "v").alias("label"),
        )
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )
    return vertices.join(child_labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


@register(
    "cc_star_contraction",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_DUCK_CTES}
    SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
    FROM clusters
    ORDER BY doc_id
    """,
)
def cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters computed by alternating star contraction:
    identical answer (and oracle) to ``neardup_clusters``, but the
    rounds scale with log(component size), not component diameter --
    the kernel you deploy when the pair graph's shape is adversarial."""
    pairs = (
        lsh_verified_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= NEARDUP_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    labels = star_contraction_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").cast("bigint").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )
