"""Session defaults: a bare ``get_spark()`` sizes itself from the host."""

from __future__ import annotations

import os

from wsu_cpts_415_spark.session import _default_cpus


def test_default_cpus_follow_the_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cpus() == "3"
