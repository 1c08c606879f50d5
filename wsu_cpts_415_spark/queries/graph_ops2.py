"""K-core decomposition and degree profiling over the near-duplicate pair
graph (the LSH-verified pairs of queries/similarity.py).

Near-dup pair graphs are exactly where k-core matters in a corpus
pipeline: a template farm (one boilerplate page stamped out thousands of
times) shows up as a dense core, while benign chance collisions form
trees and chains that a degree-{K_CORE} peel strips away.  Connected
components (queries/graph_ops.py) answer "what collapses together";
the core answers "which collapsed groups are *dense enough* to be
systematic duplication rather than noise".

Scale posture: the peel loop runs only on the pair graph -- the corpus
sliver contract shared with ``min_label_components`` -- and each round is
two semi-joins plus one hash aggregate over edges, with per-round lineage
truncation.  Rounds are BOUNDED: {PEEL_ROUNDS} synchronous rounds, the
same fixpoint-prefix contract as ``label_propagation`` (the oracle runs
the identical rounds as chained CTEs, so unconverged prefixes still
agree engine-to-engine; the fixture converges in <= 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.queries.graph_ops import (
    _NEARDUP_DUCK_CTES as _NEARDUP_DUCK_CTES_REF,
)
from wsu_cpts_415_spark.queries.similarity import (
    LSH_PAIRS_DUCK_CTES,
    lsh_verified_pairs,
)
from wsu_cpts_415_spark.registry import register

K_CORE = 3  # minimum within-core degree
PEEL_ROUNDS = 6  # synchronous peel rounds (fixture fixpoint <= 4)

# Undirected near-dup edge list (both orientations, set semantics), shared
# by both oracles.  NOTE: built from ALL verified pairs (no jaccard cut) --
# the graph-shape audits care about collision structure, the clustering in
# graph_ops.py cares about confirmed duplicates.
_UND_CTES = f"""{LSH_PAIRS_DUCK_CTES},
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
    )"""


def _kcore_duck_rounds() -> str:
    """l0/d1/l1/../l{PEEL_ROUNDS} chained CTEs: one induced-degree +
    threshold-filter pair per round, mirroring the Spark loop."""
    parts = ["l0 AS (SELECT DISTINCT src AS id FROM und)"]
    for i in range(1, PEEL_ROUNDS + 1):
        parts.append(
            f"""d{i} AS (
        SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und e
        JOIN l{i - 1} a ON a.id = e.src
        JOIN l{i - 1} b ON b.id = e.dst
        GROUP BY e.src
    )"""
        )
        parts.append(
            f"l{i} AS (SELECT id, d FROM d{i} WHERE d >= {K_CORE})"
        )
    return ",\n    ".join(parts)


@register(
    "kcore_neardup_graph",
    oracle=f"""
    WITH {_UND_CTES},
    {_kcore_duck_rounds()}
    SELECT id AS doc_id, d AS core_degree
    FROM l{PEEL_ROUNDS}
    ORDER BY doc_id
    """,
)
def kcore_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {K_CORE}-core of the near-dup collision graph after
    {PEEL_ROUNDS} synchronous peel rounds: every document still holding
    >= {K_CORE} collision partners once all weakly-connected hangers-on
    are stripped, with its within-core degree.  Dense cores = systematic
    template duplication worth a targeted rule; peeled fringe = chance
    collisions.

    Each round joins the (staged, tiny) edge list against the live set
    on both endpoints and re-aggregates degrees -- cost tracks the pair
    graph, never the corpus.  Early exit when a round removes nothing
    (sound: the peel is monotone, so the fixpoint equals every later
    round, including the oracle's round {PEEL_ROUNDS})."""
    pairs = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return kcore_peel(pairs, K_CORE, PEEL_ROUNDS).select(
        F.col("id").alias("doc_id"), F.col("d").alias("core_degree")
    ).orderBy("doc_id")


def kcore_peel(pairs: DataFrame, k: int, rounds: int) -> DataFrame:
    """Generic bounded-round k-core kernel: undirected pair graph
    (doc_a, doc_b) in, surviving (id, d) out after <= ``rounds``
    synchronous peels (early exit at the fixpoint, which equals every
    later round by monotonicity).  Property-tested against a pure-Python
    peel on random graphs in tests/test_properties.py."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .coalesce(4)
        # lazy: the live-set count below materializes the checkpoint in
        # the same job (r12, the cc_star one-job-per-round pattern)
        .localCheckpoint(eager=False)
    )
    live = edges.select(F.col("src").alias("id")).distinct()
    degrees = live.select("id", F.lit(0).cast("long").alias("d"))
    prev_n = live.count()
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    for _ in range(rounds):
        # the live set is a checkpointed RDD with unknown stats, so the
        # optimizer would shuffle-join both semi joins (4 exchanges per
        # round on pair-graph-sized data); hint broadcast while the
        # per-round count -- already taken for the fixpoint check --
        # stays under the gate, leaving the degree aggregate as the
        # round's only exchange (round 11, lesson #11)
        hint = (
            F.broadcast if prev_n <= DOC_SIDE_BCAST_ROWS else (lambda d: d)
        )
        alive_a = hint(live.select(F.col("id").alias("src")))
        alive_b = hint(live.select(F.col("id").alias("dst")))
        degrees = (
            edges.join(alive_a, "src", "left_semi")
            .join(alive_b, "dst", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .coalesce(4)
            # lazy: the fixpoint count below materializes the checkpoint
            # in the same job (one job per round, not two)
            .localCheckpoint(eager=False)
        )
        live = degrees.select("id")
        n = degrees.count()
        if n == prev_n:
            break
        prev_n = n
    return degrees


@register(
    "neardup_degree_histogram",
    oracle=f"""
    WITH {_UND_CTES},
    deg AS (
        SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    )
    SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg
    GROUP BY d
    ORDER BY degree
    """,
)
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup collision graph: how many
    documents collide with how many partners.  The one-glance shape
    audit run before any dedup action -- a heavy tail here is the
    signature of template spam (and of LSH band settings gone too
    loose), and it prices the k-core / clustering passes that follow.

    Two hash aggregates over the (tiny, staged) edge list; the second
    runs over the bounded degree key space."""
    pairs = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).distinct()
    deg = edges.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("d")
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("degree")
    )


@register(
    "neardup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_NEARDUP_DUCK_CTES_REF},
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
        FROM clusters GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY sz
    ORDER BY cluster_size
    """,
)
def neardup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup connected components:
    how many singletons, pairs, and template farms the dedup pass found
    -- the report that prices a dedup action (drop rate = docs minus
    clusters) and flags pathological mega-clusters before they collapse
    half the corpus into one survivor.  Two bounded aggregates over the
    label table."""
    from wsu_cpts_415_spark.queries.graph_ops import _neardup_labels

    labels = _neardup_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


WEDGE_CAP = 8  # max degree of a wedge CENTER (common neighbor)
LINKPRED_TOP_K = 30


@register(
    "neardup_link_pred_capped",
    oracle=f"""
    WITH {_UND_CTES},
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    ),
    centers AS (SELECT node FROM deg WHERE d <= {WEDGE_CAP}),
    adjc AS (
        SELECT und.src AS node, und.dst AS nbr
        FROM und JOIN centers c ON c.node = und.dst
    ),
    wedges AS (
        SELECT a.node AS u, b.node AS w,
               CAST(COUNT(*) AS BIGINT) AS common_lb
        FROM adjc a
        JOIN adjc b ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY a.node, b.node
    )
    SELECT u, w, common_lb,
           ROUND(CAST(common_lb AS DOUBLE)
                 / (du.d + dw.d - common_lb), 6) AS jaccard_lb
    FROM wedges
    JOIN deg du ON du.node = u
    JOIN deg dw ON dw.node = w
    ORDER BY jaccard_lb DESC, u, w
    LIMIT {LINKPRED_TOP_K}
    """,
)
def neardup_link_pred_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped common-neighbor link prediction over the near-dup
    collision graph, top-{LINKPRED_TOP_K} by Jaccard LOWER BOUND: the
    stop-shingle discipline (queries/stop_shingles.py) applied to the
    wedge join -- a wedge CENTER with degree > {WEDGE_CAP} never
    generates pairs, so per-center fan-out is bounded by the cap and
    pair work is linear in capped adjacency instead of quadratic in hub
    degree (the collision graph is SKEWED: sf0.1 max degree 169 vs
    median 16, and template-duplication hubs only grow with the
    corpus).  Intersections undercount by exactly the hub wedges while
    FULL degrees stay in the denominator, so the score can only
    under-rank a pair, never inflate it -- the safe direction for a
    candidate generator.  The oracle applies the identical cap, so the
    lower-bound semantics are conformance-pinned, and
    ``common_neighbor_sim`` (graph_ops.py) remains the labeled exact
    form on the near-regular videos graph.

    Scale: one degree aggregate, one semi join to cap centers, the
    capped wedge self-join (equi on the center id), one count
    aggregate, two gated degree joins, TakeOrderedAndProject top-k.
    """
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast
    from wsu_cpts_415_spark.queries.ssjoin import DOC_SIDE_BCAST_ROWS

    pairs = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    adj = pairs.select(
        F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    # degree table is pair-graph-node-grain: gate the hint, fixed-width
    # rows (the same adjudication as common_neighbor_sim)
    deg = maybe_broadcast(
        deg,
        DOC_SIDE_BCAST_ROWS,
        persist_input=True,
        stats_key=("linkpred_deg", sf_dir),
    )
    centers = deg.filter(F.col("d") <= WEDGE_CAP).select(
        F.col("node").alias("nbr")
    )
    adjc = adj.join(centers, "nbr", "left_semi")
    left = adjc.select(F.col("node").alias("u"), "nbr")
    right = adjc.select(F.col("node").alias("w"), F.col("nbr").alias("nbr2"))
    wedges = (
        left.join(
            right, (F.col("nbr") == F.col("nbr2")) & (F.col("u") < F.col("w"))
        )
        .groupBy("u", "w")
        .agg(F.count("*").alias("common_lb"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("deg_w"))
    return (
        wedges.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "common_lb",
            F.round(
                F.col("common_lb").cast("double")
                / (F.col("deg_u") + F.col("deg_w") - F.col("common_lb")),
                6,
            ).alias("jaccard_lb"),
        )
        .orderBy(F.col("jaccard_lb").desc(), "u", "w")
        .limit(LINKPRED_TOP_K)
    )
