"""Reference-parity pipeline tests beyond the registry oracles:
the native SCC implementation is checked against a Python Tarjan oracle on
arbitrary graphs (registry oracle only covers the derived block-ring graph),
and trending math is spot-checked on handcrafted rows."""

from __future__ import annotations

import math
import warnings

import pytest
from pyspark.sql import Row

from tests.conftest import SF_SMOKE, jobs_during
from wsu_cpts_415_spark.pipelines.scc import (
    scc_components,
    strongly_connected_components,
    video_edges,
)
from wsu_cpts_415_spark.pipelines.trending import trending_scores
from wsu_cpts_415_spark.pipelines.videos import videos_nested


def tarjan_scc(vertices: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    """Iterative Tarjan; returns vertex -> min-id-in-SCC labeling."""
    adj: dict[str, list[str]] = {v: [] for v in vertices}
    for s, d in edges:
        if s in adj and d in adj:
            adj[s].append(d)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    label: dict[str, str] = {}
    counter = [0]

    for root in vertices:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recursed = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recursed = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recursed:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return label


def _graph(spark, vertices, edges):
    vdf = spark.createDataFrame([Row(id=v) for v in vertices])
    edf = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    return vdf, edf


def _run_scc(spark, vertices, edges):
    # a graph inside the hop budget must not report an exhausted budget
    with warnings.catch_warnings():
        warnings.filterwarnings("error", "SCC budget", RuntimeWarning)
        comps = strongly_connected_components(*_graph(spark, vertices, edges))
    got = {r["id"]: r["component"] for r in comps.collect()}
    assert got == tarjan_scc(vertices, edges)


def _ring(prefix: str, n: int) -> list[tuple[str, str]]:
    return [(f"{prefix}{i}", f"{prefix}{(i + 1) % n}") for i in range(n)]


SCC_GRAPHS = {
    # two cycles bridged one-way, a chain, a self-loop, an isolate, and a
    # dangling edge to a non-vertex
    "arbitrary": (
        list("abcdefghij"),
        [
            ("a", "b"), ("b", "c"), ("c", "a"),          # SCC {a,b,c}
            ("c", "d"), ("d", "e"), ("e", "d"),          # bridge -> SCC {d,e}
            ("f", "g"), ("g", "h"),                      # chain: singletons
            ("i", "i"),                                  # self-loop singleton
            ("e", "zz"),                                 # dangling, ignored
        ],
    ),
    # chain of cycles forces multiple peel rounds: 1->2->3 block chain
    "nested_peeling": (
        [f"n{i}" for i in range(9)],
        [("n0", "n1"), ("n1", "n2"), ("n2", "n0")]
        + [("n3", "n4"), ("n4", "n5"), ("n5", "n3")]
        + [("n6", "n7"), ("n7", "n8"), ("n8", "n6")]
        + [("n2", "n3"), ("n5", "n6")],  # one-way bridges
    ),
    # rings converge at step counts that are not multiples of 3
    "ring4": ([f"a{i}" for i in range(4)], _ring("a", 4)),
    "ring7": ([f"b{i}" for i in range(7)], _ring("b", 7)),
    "duplicate_edges": (
        list("pqrs"),
        [("p", "q"), ("q", "r"), ("r", "p")] * 3 + [("r", "s")] * 2 + [("s", "s")],
    ),
    # a 4-chain into a 5-ring and a 3-tail out of it: several trim rounds
    "chain_into_ring": (
        [f"c{i}" for i in range(4)] + [f"r{i}" for i in range(5)]
        + [f"t{i}" for i in range(3)],
        [("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "r0")]
        + _ring("r", 5)
        + [("r2", "t0"), ("t0", "t1"), ("t1", "t2")],
    ),
    # edges through ids that are not vertices never close a cycle
    "dangling_ids": (
        list("uvw"),
        [("u", "v"), ("v", "ghost"), ("ghost", "u"), ("w", "ghost2"),
         ("ghost3", "w"), ("v", "w"), ("w", "v")],
    ),
}


@pytest.mark.parametrize("graph", sorted(SCC_GRAPHS))
def test_scc_matches_tarjan(spark, graph):
    _run_scc(spark, *SCC_GRAPHS[graph])


def test_scc_ring_beyond_hop_budget_warns(spark):
    """A 40-ring outruns the 15-hop budget: labels come back split (each
    vertex its own id), and the exhausted budget is reported, not silent."""
    ring = [f"r{i:02d}" for i in range(40)]
    edges = [(ring[i], ring[(i + 1) % 40]) for i in range(40)]
    with pytest.warns(RuntimeWarning, match=r"after 2 peel rounds.*38 vertices"):
        comps = strongly_connected_components(
            *_graph(spark, ring, edges), max_rounds=2
        )
    assert {r["id"]: r["component"] for r in comps.collect()} == {v: v for v in ring}


def test_scc_job_count_guard(spark):
    """Trim counts, remaining counts and convergence ride on the
    checkpoint jobs as Observations: no limit(1).count() probes and no
    join+count convergence checks (206-207 jobs with them)."""
    vdf, edf = _graph(spark, *SCC_GRAPHS["nested_peeling"])
    n = jobs_during(
        spark, "scc-job-guard", lambda: strongly_connected_components(vdf, edf)
    )
    assert n <= 113, n


def test_scc_videos_graph_matches_tarjan(spark):
    videos = videos_nested(spark, SF_SMOKE)
    vertices = [r["id"] for r in videos.select("id").collect()]
    edges = [(r["src"], r["dst"]) for r in video_edges(videos).collect()]
    with warnings.catch_warnings():
        warnings.filterwarnings("error", "SCC budget", RuntimeWarning)
        comps = scc_components(videos)
    got = {r["id"]: r["component"] for r in comps.collect()}
    assert got == tarjan_scc(vertices, edges)


def test_correlation_matrix_single_month_crawl(spark, tmp_path):
    """One crawl directory makes upload_day/month/year constant: their
    pairs are NULL ("Near-Zero") instead of an ANSI DIVIDE_BY_ZERO, and
    every other pair is still a real correlation."""
    from wsu_cpts_415_spark.io.ingest import decode_crawl, scan_crawl_lines, to_nested
    from wsu_cpts_415_spark.pipelines.correlation import NUMERIC_COLS, correlation_matrix

    day = tmp_path / "080409"
    day.mkdir()
    (day / "crawl.txt").write_text(
        "vidA\tu1\t700\tMusic\t300\t1000\t4.5\t10\t5\n"
        "vidB\tu2\t711\tComedy\t25\t2000\t3.0\t3\t1\n"
        "vidC\tu3\t100\tMusic\t4000\t50\t5.0\t1\t9\n"
    )
    typed, _ = decode_crawl(scan_crawl_lines(spark, str(tmp_path)))
    rows = correlation_matrix(to_nested(typed)).collect()
    constant = {"upload_day", "upload_month", "upload_year"}
    assert len(rows) == len(NUMERIC_COLS) * (len(NUMERIC_COLS) - 1) // 2
    for r in rows:
        if {r["col_a"], r["col_b"]} & constant:
            assert r["corr"] is None and r["classification"] == "Near-Zero", r
        else:
            assert -1.0 <= r["corr"] <= 1.0, r


def test_trending_score_math(spark):
    videos = videos_nested(spark, SF_SMOKE)
    rows = {r["id"]: r for r in trending_scores(videos).collect()}
    raw = {r["id"]: r for r in videos.collect()}
    assert rows, "no scored rows"
    # independently recompute one row end-to-end in plain python
    some_id = sorted(rows)[7]
    v = raw[some_id]
    age = v["video_desc"]["age_days"]
    views = v["video_engagement"]["views"]
    nr = v["video_engagement"]["num_ratings"]
    nc = v["video_engagement"]["num_comments"]
    rating = v["video_attri"]["rating"]
    length = v["video_attri"]["length"]
    log_views = math.log1p(views)
    recency = age / 100.0
    velocity = log_views * age / 1000.0
    density = ((nr + nc) / (log_views + 1)) / 1000.0
    quality = rating * (math.log1p(nr) / 10)
    bonus = 2 if (age > 710 and density > 0.01) else 1.0
    if 120 <= length <= 900:
        lscore = 1.0
    elif length < 30:
        lscore = 0.3
    elif length > 3600:
        lscore = 0.4
    else:
        lscore = 0.7
    base = recency * 20 + velocity * 15 + density * 3 + quality * 25 + lscore * 1
    got = rows[some_id]
    assert abs(got["trending_score"] - base * bonus) < 1e-9
    # quality filter removed the injected >5-rating violators
    violators = [i for i, v in raw.items() if v["video_attri"]["rating"] > 5]
    assert violators and all(i not in rows for i in violators)


def test_trending_report_sink(spark, tmp_path):
    from wsu_cpts_415_spark.pipelines.report import trending_report
    from wsu_cpts_415_spark.pipelines.trending import trending_rankings

    ranked = trending_rankings(videos_nested(spark, SF_SMOKE))
    out = tmp_path / "trend_output.txt"
    text = trending_report(ranked, path=str(out))
    assert out.read_text() == text
    assert "STATS FOR TOP VIDEOS" in text
    assert "=== TOP 20 TRENDING VIDEOS ===" in text
    # 20 breakdown entries (#1:..#20:) and 20 table rows
    assert all(f"#{i}:" in text for i in range(1, 21))
    top_id = (
        ranked.orderBy("trending_score", ascending=False).limit(1).collect()[0]["id"]
    )
    assert top_id in text


def test_trending_scalable_percentile_matches_parity_window(spark):
    """Forcing the range-partitioned W2 path (scalable_rows=0) must give
    bit-identical global percentiles to the reference's single-partition
    window -- the bound only switches plans, never values."""
    from wsu_cpts_415_spark.pipelines.trending import trending_rankings

    videos = videos_nested(spark, SF_SMOKE)
    parity = {
        r["id"]: r
        for r in trending_rankings(videos, scalable_rows=1 << 60).collect()
    }
    scalable = {
        r["id"]: r for r in trending_rankings(videos, scalable_rows=0).collect()
    }
    assert parity.keys() == scalable.keys()
    for vid, p in parity.items():
        s = scalable[vid]
        assert p["category_rank"] == s["category_rank"]
        assert p["global_percentile"] == s["global_percentile"], (
            vid,
            p["global_percentile"],
            s["global_percentile"],
        )


def test_min_label_components_matches_union_find(spark):
    """min-label propagation == union-find on assorted pair graphs:
    chains (worst-case diameter), stars, cliques, disjoint singleton
    pairs, and a pseudo-random mix."""
    from wsu_cpts_415_spark.queries.graph_ops import min_label_components

    cases = [
        [(i, i + 1) for i in range(0, 12)],                      # one chain
        [(0, i) for i in range(1, 8)],                           # star
        [(a, b) for a in range(5) for b in range(a + 1, 5)],     # clique
        [(10, 11), (20, 21), (30, 31)],                          # pairs
        [((i * 7) % 23, (i * 11) % 23) for i in range(1, 15) if (i * 7) % 23 != (i * 11) % 23],
    ]
    for pairs in cases:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {v: find(v) for v in parent}

        df = spark.createDataFrame(
            [Row(doc_a=a, doc_b=b) for a, b in pairs]
        )
        got = {
            r["doc_id"]: r["label"]
            for r in min_label_components(df).collect()
        }
        assert got == expected, f"pairs={pairs}"
