#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads: relational, reference_pipeline, curation, streaming (see
``workloads.py``).  The run pins its environment, writes its seeded
inputs under ``.perfbench/`` in the checkout, starts a session, runs a
cold round and warm rounds of the workload for ``--seconds``, checks
every output, stops the session and every process it started, and
prints one ``metric`` line per figure followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the JSON carries the end-to-end metrics; with
``--trace 1`` the run wraps the engine's layers and the JSON carries the
per-layer metrics, and the spans are written to
``.perfbench/spans-<workload>-<seed>.json``.  ``--size tiny`` shrinks
every generator for the self-check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "wsu_cpts_415_spark")
OUT_DIR = os.path.join(ROOT, ".perfbench")

# Reported by every workload with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}

# Reported by every workload with --trace 1 (0 where a layer is idle):
# name -> (unit, the end-to-end metric and workloads it should move).
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s on all"),
    "registry.all_queries_s": ("s", "setup_s on all"),
    "io.tables.load_table_calls": ("count", "op_p50_s on relational"),
    "io.tables.load_table_s": ("s", "op_p50_s on relational"),
    "queries.build_s": ("s", "op_p50_s, wall_s on relational, curation, streaming"),
    "queries.exec_s": ("s", "op_p50_s, op_p90_s on relational"),
    "queries.jobs": ("count", "wall_s on reference_pipeline, curation"),
    "queries.stages": ("count", "wall_s on reference_pipeline, curation"),
    "queries.tasks": ("count", "wall_s on reference_pipeline, curation"),
    "engine.shuffle_bytes": ("bytes", "op_p50_s on relational"),
    "engine.scan_rows": ("count", "op_p50_s on relational"),
    "engine.gc_s": ("s", "op_p90_s on relational, curation"),
    "engine.worker_rss_mb": ("MB", "none: Python workers, kept out of peak_rss_mb"),
    "io.ingest.ingest_crawl_s": ("s", "wall_s on reference_pipeline"),
    "io.ingest.rows_per_s": ("1/s", "wall_s on reference_pipeline"),
    "io.ingest.parsed": ("count", "wall_s on reference_pipeline"),
    "io.ingest.rejected": ("count", "wall_s on reference_pipeline"),
    "io.ingest.duplicates": ("count", "wall_s on reference_pipeline"),
    "io.ingest.bytes_written_per_input_byte": ("ratio", "wall_s on reference_pipeline"),
    "io.ingest.validate_store_s": ("s", "wall_s on reference_pipeline"),
    "pipelines.link_analysis_s": ("s", "wall_s, op_p50_s on reference_pipeline"),
    "pipelines.correlation_s": ("s", "wall_s, op_p50_s on reference_pipeline"),
    "pipelines.scc_s": ("s", "wall_s, op_p90_s on reference_pipeline"),
    "pipelines.scc_jobs": ("count", "wall_s, op_p90_s on reference_pipeline"),
    "pipelines.trending_s": ("s", "wall_s, op_p50_s on reference_pipeline"),
    "pipelines.report_s": ("s", "wall_s on reference_pipeline"),
    "pipelines.charts_s": ("s", "wall_s on reference_pipeline"),
    "pipelines.analysis_s": ("s", "wall_s on reference_pipeline"),
    "ops.staging.build_s": ("s", "wall_s on curation"),
    "ops.staging.layers_built": ("count", "wall_s on curation"),
    "ops.staging.bytes": ("bytes", "wall_s on curation"),
    "ops.staging.hit_ratio": ("ratio", "op_p50_s, op_p90_s on curation"),
    "ops.staging.cold_round_s": ("s", "wall_s on curation"),
    "ops.staging.warm_round_s": ("s", "wall_s, op_p50_s on curation"),
    "streaming.init_stores_s": ("s", "setup_s on streaming"),
    "streaming.batch_s": ("s", "wall_s, op_p90_s on streaming"),
    "streaming.batches": ("count", "wall_s on streaming"),
    "streaming.batch_p50_s": ("s", "wall_s, op_p90_s on streaming"),
    "streaming.docs_per_s": ("1/s", "wall_s on streaming"),
    "streaming.trigger_ms": ("ms", "wall_s, op_p50_s on streaming"),
    "streaming.add_batch_ms": ("ms", "wall_s on streaming"),
    "streaming.commit_ms": ("ms", "wall_s on streaming"),
    "streaming.state_rows": ("count", "op_p50_s on streaming"),
    "streaming.state_mem_bytes": ("bytes", "peak_rss_mb on streaming"),
    "trace.wall_s": ("s", "none: wall_s of the traced run; minus the untraced wall_s is the tracing overhead"),
    "trace.overhead_s": ("s", "none: time the traced run spends in its own bookkeeping"),
    "trace.spans": ("count", "none: spans recorded"),
}


def pin_env(work_dir: str) -> dict[str, str]:
    """Environment for the session and its Python workers.  Every path
    is inside the run's own directory, fresh for each run."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the session default (24g) exceeds many machines' RAM: a quarter
        # of physical memory, at most 2 GB
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, mem_kb // (4 << 20)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_GRAFT_STAGING_DIR": os.path.join(work_dir, "staging"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    for key in ("SPARK_GRAFT_STAGING_DIR", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[key], mode=0o700)
    os.environ.pop("SPARK_MASTER_SET", None)
    os.environ.update(pinned)
    return pinned


def session_conf(work_dir: str) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a fixed, pre-touched heap: otherwise the JVM's resident size
        # follows when the collector happened to grow the heap, and
        # peak_rss_mb wandered by a fifth from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _progress_listener(spark):
    """Collects the progress events of every streaming query."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append((
                dict(p.durationMs),
                sum(s.numRowsTotal for s in p.stateOperators),
                sum(s.memoryUsedBytes for s in p.stateOperators),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


def _streaming_progress(log) -> dict[str, float]:
    if not log.events:
        return {}

    def med(key: str) -> float:
        return statistics.median(d.get(key, 0) for d, _, _ in log.events)

    return {
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.commit_ms": med("commitOffsets"),
        "streaming.state_rows": max(r for _, r, _ in log.events),
        "streaming.state_mem_bytes": max(m for _, _, m in log.events),
    }


def stop_session(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    from harness import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        os.kill(pid, 9)
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run(args, ctx, workload) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (metrics, extras)."""
    from harness import Bench, peak_rss_bytes
    from spans import Tracer, install, rebind

    t_setup = time.perf_counter()
    tracer = Tracer(enabled=bool(args.trace))
    from wsu_cpts_415_spark.session import get_spark

    if tracer.enabled:
        install(tracer)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=session_conf(ctx.work_dir))
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        with tracer.span("registry.all_queries"):
            from wsu_cpts_415_spark.registry import all_queries

            queries = all_queries()
        registry_s = time.perf_counter() - t0
        if tracer.enabled:
            rebind(tracer)
        ctx.bench = bench = Bench(spark, tracer, args.seconds)
        ctx.queries = queries
        workload.setup()
        setup_s = time.perf_counter() - t_setup

        progress = _progress_listener(spark) if tracer.enabled else None
        workload.before_measure()
        gc0 = _jvm_gc_s(spark) if tracer.enabled else 0.0
        bench.latency_from = workload.latency_from
        bench.measure(
            workload.make_round, workload.after_round,
            workload.untimed_rounds, workload.min_rounds,
        )
        from pyspark import SparkContext

        main_rss, worker_rss = peak_rss_bytes(os.getpid(), SparkContext._gateway.proc.pid)
        metrics = {"setup_s": setup_s, **bench.end_to_end(), "peak_rss_mb": main_rss / (1 << 20)}
        extras = workload.extras()
        if tracer.enabled:
            rounds = len(bench.timed_rounds)
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            jobs = [j for per_op in bench.jobs_by_op.values() for j in per_op]
            layer = {
                "session.get_spark_s": get_spark_s,
                "registry.all_queries_s": registry_s,
                "io.tables.load_table_calls": tracer.calls("io.tables.load_table") / rounds,
                "io.tables.load_table_s": tracer.total("io.tables.load_table") / rounds,
                "queries.build_s": tracer.total("queries.build") / rounds,
                "queries.exec_s": tracer.total("queries.exec") / rounds,
                "queries.jobs": statistics.mean(j for j, _, _ in jobs),
                "queries.stages": statistics.mean(s for _, s, _ in jobs),
                "queries.tasks": statistics.mean(t for _, _, t in jobs),
                "engine.shuffle_bytes": tracer.counts.get("engine.shuffle_bytes", 0) / rounds,
                "engine.scan_rows": tracer.counts.get("engine.scan_rows", 0) / rounds,
                "engine.gc_s": (_jvm_gc_s(spark) - gc0) / rounds,
                "engine.worker_rss_mb": worker_rss / (1 << 20),
                **_streaming_progress(progress),
                **workload.per_layer(),
                "trace.wall_s": metrics["wall_s"],
                "trace.overhead_s": tracer.overhead_s,
                "trace.spans": len(tracer.spans),
            }
            metrics = {name: layer.get(name, 0) for name in PER_LAYER}
            tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        stop_session(spark)
    return metrics, extras


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PACKAGE, "session.py")):
        print(f"error: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import numpy as np

    from workloads import SIZES, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_dir = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        env = pin_env(work_dir)
        ctx = Ctx(work_dir, SIZES[args.size], np.random.default_rng(args.seed))
        workload = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        workload.prepare()
        gen_s = time.perf_counter() - t0
        metrics, extras = run(args, ctx, workload)
        bench = ctx.bench
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"sizes {json.dumps(ctx.size, sort_keys=True)} input_gen_s {gen_s:.3f}")
    print(f"rounds {len(bench.rounds)} ops {bench.attempted} run_s {time.perf_counter() - t_start:.3f}")
    for name, took in bench.timed_rounds[0]:
        print(f"op {name} first_timed {took:.3f} median {bench.op_median(name):.3f}")
    for failure in bench.failures:
        print(f"failure {failure}")
    units = {n: u for n, (u, _) in PER_LAYER.items()} if args.trace else END_TO_END
    for name, value in metrics.items():
        moves = f" moves {PER_LAYER[name][1]}" if args.trace else ""
        print(f"metric {name} {value:.6g} {units[name]}{moves}")
    for name, (value, unit) in extras.items():
        print(f"metric {name} {value:.6g} {unit}")
    print(f"metric fail_ratio {bench.failed / max(1, bench.attempted):.6g} ratio")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
