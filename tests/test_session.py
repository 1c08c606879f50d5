"""Session defaults: a bare ``get_spark()`` sizes itself from the host
and captures no Python call sites."""

from __future__ import annotations

import os

from wsu_cpts_415_spark.session import _default_cpus

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_default_cpus_follow_the_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cpus() == "3"


def test_python_call_site_capture_is_off_and_can_be_turned_back_on(spark):
    """``get_spark`` turns PySpark's per-call Python call-site capture
    off, and ``extra_conf`` turns it back on.  The conf is static, so
    the override is checked on a session of its own, in a fresh
    process."""
    import subprocess
    import sys

    assert spark.conf.get(_DEBUGGING) == "false"
    probe = (
        "from wsu_cpts_415_spark.session import get_spark\n"
        f"s = get_spark(master='local[1]', extra_conf={{{_DEBUGGING!r}: 'true'}})\n"
        f"print(s.conf.get({_DEBUGGING!r}))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
        check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "true"
