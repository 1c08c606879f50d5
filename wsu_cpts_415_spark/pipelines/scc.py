"""Native strongly-connected components on DataFrames (reference
big_data/scripts/analysis/graph_filter.py:120-159).

The reference calls ``graphframes.GraphFrame.stronglyConnectedComponents
(maxIter=10)`` (graph_filter.py:129); graphframes has no PySpark 4.x build
here (SURVEY.md §7.3), so the engine implements SCC natively as iterative
DataFrame algebra -- which is also what GraphFrames does under the hood
(Pregel-style joins), minus the JVM package dependency.

Algorithm: trimming + min-label forward/backward peeling.

  1. **Trim**: a vertex with no in-edges or no out-edges (in the remaining
     graph) cannot lie on a cycle -> it is its own singleton SCC.  Repeat
     (removing a sink exposes new sinks) a bounded number of rounds.
  2. **Peel round**: compute f(v) = min id forward-reachable from v
     (including v) and b(v) = min id backward-reachable, each by iterative
     min-label propagation over the edge table.  Where ``f(v) == b(v) == m``,
     m is both a descendant and an ancestor of v, so v is in SCC(m); all of
     SCC(m) shares (f, b), so the whole component is labeled at once.  The
     SCC containing the globally minimal remaining id is always labeled,
     guaranteeing progress; assigned vertices are removed and the next
     round peels the rest.
  3. Vertices still unlabeled when the round budget runs out keep their own
     id as component -- the same bounded-iteration semantics as the
     reference's maxIter=10 -- and a ``RuntimeWarning`` reports the rounds
     used and the unlabeled count (as it does when a round's supersteps
     run out before the labels converge).

Scale notes: each propagation step is one (adjacency JOIN labels)
shuffle plus a min-aggregate -- the canonical Pregel superstep as
relational algebra.  Every step (trim, superstep, peel, edge rebuild) is
one eager ``localCheckpoint``, which truncates the iterative lineage
(without it, plan depth grows linearly and planning cost quadratically)
and carries the step's own bookkeeping as an ``Observation``: trim and
peel checkpoints observe how many vertices remain, each superstep
observes how many labels it changed.  Convergence, early exit and the
budget report therefore run no action of their own -- no ``count``
probes, no join against the previous label table.  Vertex ids stay
strings here (test graphs are small); a
production run would dictionary-encode ids to longs first so shuffle
keys are 8 bytes.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint(df: DataFrame, counted: Column | None = None) -> tuple[DataFrame, int]:
    """Eager local checkpoint of ``df`` plus the number of its rows where
    ``counted`` holds (every row when None), observed inside the
    checkpoint's own job."""
    obs = Observation()
    hit = F.lit(1) if counted is None else F.when(counted, 1)
    out = df.observe(obs, F.count(hit).alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


def _restrict(edges: DataFrame, ids: DataFrame) -> tuple[DataFrame, int]:
    """Checkpointed (src, dst) edges with both endpoints in ``ids``, and
    their count."""
    return _checkpoint(
        edges.join(ids.select(F.col("id").alias("src")), "src", "left_semi")
        .join(ids.select(F.col("id").alias("dst")), "dst", "left_semi")
    )


def _min_reach_labels(
    vertices: DataFrame, edges: DataFrame, max_iter: int
) -> tuple[DataFrame, bool]:
    """(id, f, b): minimum vertex id reachable forward (along src->dst)
    and backward from ``id``, within ``max_iter`` hops; and whether the
    labels converged inside that budget.

    Both fixpoints run FUSED in one label table over one adjacency table
    of (id, to, fwd) rows -- each edge once per direction -- so a
    superstep is a single join + min-aggregate (min ignores the null
    half of each message).  The aggregate also carries each vertex's
    previous label (a min over its own row), so the step's checkpoint
    observes how many labels changed; zero means the previous step was
    already the fixpoint."""
    adjacency = edges.select(
        F.col("dst").alias("id"), F.col("src").alias("to"), F.lit(True).alias("fwd")
    ).unionByName(
        edges.select(
            F.col("src").alias("id"), F.col("dst").alias("to"), F.lit(False).alias("fwd")
        )
    )
    none = F.lit(None).cast("string")
    lab = vertices.select("id", F.col("id").alias("f"), F.col("id").alias("b"))
    for _ in range(max_iter):
        msgs = adjacency.join(lab, "id").select(
            F.col("to").alias("id"),
            F.when(F.col("fwd"), F.col("f")).alias("f"),
            F.when(~F.col("fwd"), F.col("b")).alias("b"),
            none.alias("pf"),
            none.alias("pb"),
        )
        step = (
            lab.select("id", "f", "b", F.col("f").alias("pf"), F.col("b").alias("pb"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(*[F.min(c).alias(c) for c in ("f", "b", "pf", "pb")])
        )
        step, changed = _checkpoint(
            step, (F.col("f") != F.col("pf")) | (F.col("b") != F.col("pb"))
        )
        lab = step.select("id", "f", "b")
        if changed == 0:
            return lab, True
    return lab, False


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 15,
    max_rounds: int = 10,
    trim_rounds: int = 5,
) -> DataFrame:
    """(id, component) with component = min vertex id in the SCC.

    ``vertices``: DataFrame with column ``id``; ``edges``: (src, dst).
    Edges with endpoints outside ``vertices`` are ignored (the reference's
    inner-join semantics drop dangling related-ids the same way).  Warns
    (``RuntimeWarning``) when the hop or round budget runs out before
    every vertex is labeled; the labels are returned as they stand."""
    remaining, n_remaining = _checkpoint(vertices.select("id").distinct())
    live_edges, n_edges = _restrict(
        edges.select("src", "dst").distinct().filter(F.col("src") != F.col("dst")),
        remaining,
    )
    assigned: list[DataFrame] = []

    # -- trim: acyclic fringe vertices are singleton SCCs ------------------
    for _ in range(trim_rounds):
        kept, n_kept = _checkpoint(
            remaining.join(live_edges.select(F.col("src").alias("id")), "id", "left_semi")
            .join(live_edges.select(F.col("dst").alias("id")), "id", "left_semi")
        )
        if n_kept == n_remaining:
            break
        trimmed = remaining.join(kept, "id", "left_anti")
        assigned.append(trimmed.select("id", F.col("id").alias("component")))
        remaining, n_remaining = kept, n_kept
        if n_remaining == 0:
            break
        live_edges, n_kept_edges = _restrict(live_edges, remaining)
        if n_kept_edges == n_edges:
            break  # same edges => the next round would keep every vertex
        n_edges = n_kept_edges

    # -- peel: label SCCs where min-forward-reach == min-backward-reach ---
    rounds = unconverged = 0
    while n_remaining and rounds < max_rounds:
        rounds += 1
        both, converged = _min_reach_labels(remaining, live_edges, max_iter)
        unconverged += not converged
        same = F.col("f") == F.col("b")
        assigned.append(both.filter(same).select("id", F.col("f").alias("component")))
        remaining, n_remaining = _checkpoint(both.filter(~same).select("id"))
        if n_remaining:
            live_edges, _ = _restrict(live_edges, remaining)

    if n_remaining or unconverged:
        warnings.warn(
            f"SCC budget exhausted after {rounds} peel rounds "
            f"(max_rounds={max_rounds}): {n_remaining} vertices left "
            f"unlabeled keep their own id; {unconverged} of the rounds hit "
            f"max_iter={max_iter} before their labels converged",
            RuntimeWarning,
            stacklevel=2,
        )
    # vertices the budget left unlabeled keep their own id
    out = remaining.select("id", F.col("id").alias("component"))
    for part in assigned:
        out = out.unionByName(part)
    return out


def video_edges(videos: DataFrame) -> DataFrame:
    """(src, dst) edge derivation from the videos table
    (graph_filter.py:120-123): one edge per related-id reference."""
    return videos.select(
        F.col("id").alias("src"), F.explode("related_ids").alias("dst")
    )


def scc_components(
    videos: DataFrame, max_iter: int = 15, comps: DataFrame | None = None
) -> DataFrame:
    """Per-video SCC label over the related-ids graph, ordered by id.

    ``comps`` lets a caller supply an already-computed label table (the
    registry stages one per session -- SCC is deterministic, so sharing
    it between the components and rollup queries changes latency, never
    results; the cluster analogue is one labeling job whose output table
    feeds every downstream consumer)."""
    if comps is None:
        vertices = videos.select("id")
        comps = strongly_connected_components(
            vertices, video_edges(videos), max_iter
        )
    return comps.orderBy("id")


def scc_cluster_rollup(
    videos: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """Per-component rollup (graph_filter.py:143-156): cluster size,
    distinct uploaders/categories, average views -- biggest cluster first.

    The reference materializes collect_list/collect_set arrays and takes
    their ``size`` (unbounded per-group state for a viral cluster); the
    engine computes the counts directly -- countDistinct is two hash
    aggregates, no arrays ever materialize (SURVEY.md §7.3)."""
    if comps is None:
        comps = strongly_connected_components(
            videos.select("id"), video_edges(videos)
        )
    flat = videos.select(
        "id",
        F.col("video_desc.uploader").alias("uploader"),
        F.col("video_desc.category").alias("category"),
        F.col("video_engagement.views").alias("views"),
    )
    return (
        comps.join(flat, "id")
        .groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.countDistinct("uploader").alias("distinct_uploaders"),
            F.countDistinct("category").alias("distinct_categories"),
            F.round(F.avg("views"), 4).alias("avg_views"),
        )
        # P6: keep real clusters only (the reference filters size > 1 in
        # pandas, graph_filter.py:53-54; here it is a plain agg filter)
        .filter(F.col("cluster_size") > 1)
        .orderBy(F.col("cluster_size").desc(), F.col("component").asc())
    )
