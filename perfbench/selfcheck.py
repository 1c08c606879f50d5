#!/usr/bin/env python3
"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Runs every workload with ``--size tiny`` untraced and traced, and
asserts that:

* every run exits 0 with a correct result line;
* every metric named in ``BENCHMARK.json`` is reported with its unit
  (end-to-end with ``--trace 0``, per-layer with ``--trace 1``), and the
  metric lists there match ``run.py``;
* the traced runs together write spans for every engine layer;
* the benchmark fails, without a result line, in a directory that holds
  only ``BENCHMARK.json`` and the benchmark's own files.

It prints each workload's tracing overhead: the traced run's ``wall_s``
minus the untraced run's.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, OUT_DIR, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Span-name prefixes of the engine's layers.
LAYERS = (
    "session.", "registry.", "queries", "io.tables.", "io.ingest.",
    "pipelines.", "ops.staging.", "streaming.",
)


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )
    return p.returncode, p.stdout


def _result(workload: str, trace: int) -> dict:
    code, out = _run(workload, trace)
    if code != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {code}")
    res = json.loads(out.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
        raise SystemExit(f"{workload} trace={trace}: bad result {res}")
    want = {n: u for n, (u, _) in PER_LAYER.items()} if trace else END_TO_END
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if got != want:
        raise SystemExit(f"{workload} trace={trace}: metrics {got} != {want}")
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layer_units = {n: u for n, (u, _) in PER_LAYER.items()}
    for key, want in (("end_to_end", END_TO_END), ("per_layer", layer_units)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != want:
            raise SystemExit(f"BENCHMARK.json {key} does not match run.py")
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        raise SystemExit("BENCHMARK.json workloads do not match workloads.py")

    seen: set[str] = set()
    for workload in WORKLOADS:
        untraced = _result(workload, 0)["metrics"]["wall_s"]["value"]
        traced = _result(workload, 1)["metrics"]["trace.wall_s"]["value"]
        with open(os.path.join(OUT_DIR, f"spans-{workload}-7.json")) as f:
            seen |= {s["name"] for s in json.load(f)["spans"]}
        print(f"{workload}: wall_s {untraced:.3f} traced {traced:.3f} "
              f"overhead {traced - untraced:+.3f} s")
    missing = [p for p in LAYERS if not any(n.startswith(p) for n in seen)]
    if missing:
        raise SystemExit(f"no spans for layers {missing}")

    bare = os.path.join(OUT_DIR, "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = _run("relational", 0, cwd=bare)
    shutil.rmtree(bare)
    if code == 0 or out.strip():
        raise SystemExit("benchmark ran without the engine package")
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
