"""Harness-contract guard: every query name the benchmark's workloads
run must exist in the registry with oracle SQL -- a renamed query must
fail HERE, not silently vanish from ``perfbench``."""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "perfbench"))


def test_perfbench_query_lists_are_registered():
    import workloads

    from wsu_cpts_415_spark.registry import all_queries

    qs = all_queries()
    named = (
        list(workloads.Relational.WARMUP)
        + list(workloads.CURATION_QUERIES)
        + list(workloads.STREAMING_QUERIES)
    )
    missing = [n for n in named if n not in qs or qs[n].oracle is None]
    assert not missing, f"perfbench names without a registered oracle: {missing}"

    # the relational workload runs every q<N> the TPC-H modules register
    tpch = [
        n for n, q in qs.items()
        if q.fn.__module__.endswith((".tpch", ".tpch2")) and n[1].isdigit()
    ]
    assert sorted(n.split("_")[0] for n in tpch) == sorted(
        f"q{i}" for i in range(1, 23)
    )
    assert all(qs[n].oracle for n in tpch)
