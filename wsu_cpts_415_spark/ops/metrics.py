"""Executed-plan metric profiling: measure what actually moved.

Plan gates (tests/test_plans.py) assert plan SHAPE -- broadcast vs
sort-merge, partial aggregation, pushdown.  This module closes the loop
with the runtime numbers behind those shapes: after a query executes,
its physical plan's SQLMetrics hold the real shuffle bytes/records,
broadcast sizes, and scan rows.  ``shuffle_profile`` walks the final
(post-AQE) executed plan and sums them, so a claim like "the dedup
shuffle carries digests, not documents" becomes a measured byte count
(tests/test_metrics.py), not a docstring.

Traversal notes: under AQE the root is AdaptiveSparkPlanExec whose
``executedPlan()`` yields the final plan; QueryStageExec nodes wrap
their materialized subtree behind ``.plan()``; ReusedExchangeExec
re-reads an exchange that already ran (its metrics are counted once, at
the original).  Metrics populate only after an action on the SAME
Dataset (collect/toPandas -- count() builds a different execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _jlist(jvm, seq):
    return jvm.scala.collection.JavaConverters.seqAsJavaList(seq)


def _jmap(jvm, m):
    return jvm.scala.collection.JavaConverters.mapAsJavaMap(m)


def shuffle_profile(df: DataFrame, materialize: bool = True) -> dict:
    """Execute ``df`` (collect; results are presumed report-sized) and
    return summed runtime metrics of its final physical plan:

    ``shuffle_bytes`` / ``shuffle_records``  -- total shuffle writes
    ``n_shuffles``                           -- ShuffleExchange nodes run
    ``broadcast_bytes``                      -- broadcast exchange sizes
    ``scan_rows``                            -- rows out of file scans
    ``n_scans``                              -- file-source scan nodes
    """
    if materialize:
        df.collect()
    jvm = df.sparkSession._jvm
    totals = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "n_shuffles": 0,
        "broadcast_bytes": 0,
        "scan_rows": 0,
        "n_scans": 0,
    }
    seen: set[int] = set()

    def walk(node) -> None:
        node_id = node.id()
        if node_id in seen:
            return
        seen.add(node_id)
        name = node.getClass().getSimpleName()
        metrics = _jmap(jvm, node.metrics())
        vals = {str(k): metrics[k].value() for k in metrics.keySet()}
        if name == "ShuffleExchangeExec":
            totals["n_shuffles"] += 1
            totals["shuffle_bytes"] += int(vals.get("shuffleBytesWritten", 0))
            totals["shuffle_records"] += int(
                vals.get("shuffleRecordsWritten", 0)
            )
        elif name == "BroadcastExchangeExec":
            totals["broadcast_bytes"] += int(vals.get("dataSize", 0))
        elif name == "FileSourceScanExec":
            totals["n_scans"] += 1
            totals["scan_rows"] += int(vals.get("numOutputRows", 0))
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
        if name == "ReusedExchangeExec":
            # metrics belong to the original exchange; don't recurse
            return
        for child in _jlist(jvm, node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return totals
