"""The benchmark's four workloads.

Each workload has three phases:

* ``prepare``: write its seeded inputs (before the set-up clock starts);
* ``setup``: engine work that a user pays before the first operation
  (counted in ``setup_s``);
* ``make_round``: the operations of one round, re-made for every round.

``per_layer`` turns the run's spans and counts into per-layer metrics,
and ``extras`` into the workload's own end-to-end figures that are
printed but are not part of every workload's result line.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
from harness import Bench, Op, digest, expect_equal

# Generator sizes: ``bench`` is the benchmark's, ``tiny`` the self-check's.
# ``bench`` is small because every run starts a fresh JVM and the whole
# benchmark (four workloads, many seeded runs each) must stay short.
SIZES = {
    "bench": {"sf": 0.001, "videos": 400, "ring": 5, "batches": 2, "batch_docs": 80},
    "tiny": {"sf": 0.001, "videos": 150, "ring": 5, "batches": 2, "batch_docs": 20},
}

# One query of most curation families (similarity, similarity2,
# er_scoring, semdedup, stop_shingles), chosen for the staged layers and
# models they build.  ssjoin and dedup_policy are left out to keep a run
# short; the streaming workload runs the dedup gate itself.
CURATION_QUERIES = (
    "minhash_lsh_pairs", "simhash_hamming_pairs", "er_match_scores",
    "levenshtein_blocked_pairs", "stop_shingle_cap_audit",
)
STREAMING_QUERIES = ("streaming_tumbling_counts",)


@dataclass
class Ctx:
    """What a workload needs: the run's scratch directory, generator
    size, random source, and (after set-up) the session and registry."""

    work_dir: str
    size: dict
    rng: object
    bench: Bench | None = None
    queries: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    @property
    def spark(self):
        return self.bench.spark

    @property
    def tracer(self):
        return self.bench.tracer


def query_ops(ctx: Ctx, names: list[str], sf_dir: str, expect: dict[str, str]) -> list[Op]:
    """One operation per registry query: build the DataFrame with
    ``Query.fn``, materialize it with ``toPandas``, then compare its
    digest with the DuckDB oracle's (or, for a query without an oracle,
    with its own first result)."""
    tr = ctx.tracer

    def op(name: str) -> Op:
        q = ctx.queries[name]

        def run():
            with tr.span("queries.build"):
                df = q.fn(ctx.spark, sf_dir)
            with tr.span("queries.exec"):
                return df, df.toPandas()

        def check(out) -> None:
            df, pdf = out
            expect_equal(name, digest(pdf), expect.setdefault(name, digest(pdf)))
            if tr.enabled:
                from wsu_cpts_415_spark.ops.metrics import shuffle_profile

                t0 = time.perf_counter()
                prof = shuffle_profile(df, materialize=False)
                tr.count("engine.shuffle_bytes", prof["shuffle_bytes"])
                tr.count("engine.scan_rows", prof["scan_rows"])
                tr.overhead_s += time.perf_counter() - t0

        return Op(name, run, check, span="queries")

    return [op(n) for n in names]


def oracle_digests(ctx: Ctx, names: list[str], sf_dir: str) -> dict[str, str]:
    from wsu_cpts_415_spark.ops.conformance import duck_connect

    con = duck_connect(sf_dir)
    try:
        return {
            n: digest(con.execute(ctx.queries[n].oracle).fetchdf())
            for n in names
            if ctx.queries[n].oracle is not None
        }
    finally:
        con.close()


class Workload:
    """Round structure (see ``harness.Bench.measure``) and the hooks a
    workload may leave empty."""

    untimed_rounds = 0
    min_rounds = 1
    latency_from = 0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        pass

    def before_measure(self) -> None:
        pass

    def after_round(self, rnd: int) -> None:
        pass


class QueryWorkload(Workload):
    """Registry queries over generated tables."""

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.sf_dir = ctx.path("tables")

    def prepare(self) -> None:
        gen.make_tables(self.sf_dir, self.ctx.size["sf"], self.ctx.rng)

    def setup(self) -> None:
        self.names = self.query_names()

    def query_names(self) -> list[str]:
        raise NotImplementedError

    def before_measure(self) -> None:
        self.expect = oracle_digests(self.ctx, self.names, self.sf_dir)

    def make_round(self, rnd: int) -> list[Op]:
        return query_ops(self.ctx, self.names, self.sf_dir, self.expect)

    def extras(self) -> dict[str, tuple[float, str]]:
        return {"op_samples": (len(self.ctx.bench.samples()), "count")}

    def per_layer(self) -> dict[str, float]:
        return {}


class Relational(QueryWorkload):
    """TPC-H q1-q22 in a warm session: an untimed round of two queries
    warms the JVM, then every query runs and is checked against DuckDB."""

    untimed_rounds = 1
    WARMUP = ("q1_pricing_summary", "q6_forecast_revenue")

    def make_round(self, rnd: int) -> list[Op]:
        names = self.WARMUP if rnd < self.untimed_rounds else self.names
        return query_ops(self.ctx, list(names), self.sf_dir, self.expect)

    def query_names(self) -> list[str]:
        return sorted(
            (n for n, q in self.ctx.queries.items()
             if q.fn.__module__.endswith((".tpch", ".tpch2")) and n[1].isdigit()),
            key=lambda n: int(n[1:].split("_")[0]),
        )


class Curation(QueryWorkload):
    """A cold round from an empty staging root after ``clear_staged``,
    then warm rounds that reuse the staged layers, models and gates.
    Five warm rounds: the warm queries take 0.1-0.3 s each, and fewer
    samples of each left op_p50_s jumping between neighbouring queries."""

    min_rounds = 6
    latency_from = 1  # op latency is the warm rounds'

    def query_names(self) -> list[str]:
        return list(CURATION_QUERIES)

    def before_measure(self) -> None:
        from wsu_cpts_415_spark.ops import staging

        super().before_measure()
        staging.clear_staged()
        self.round_builds: list[dict[str, float]] = []
        self.round_counts: list[tuple[float, float]] = []
        self._log = staging.staging_build_log()
        self._counts = (0.0, 0.0)

    def after_round(self, rnd: int) -> None:
        from wsu_cpts_415_spark.ops.staging import staging_build_log

        log = staging_build_log()
        self.round_builds.append(
            {k: v - self._log.get(k, 0.0) for k, v in log.items() if v > self._log.get(k, 0.0)}
        )
        self._log = log
        counts = self.ctx.tracer.counts
        now = (counts.get("ops.staging.calls", 0), counts.get("ops.staging.hits", 0))
        self.round_counts.append((now[0] - self._counts[0], now[1] - self._counts[1]))
        self._counts = now

    def extras(self) -> dict[str, tuple[float, str]]:
        times = self.ctx.bench.round_times()
        return {"cold_s": (times[0], "s"), "warm_s": (statistics.median(times[1:]), "s")}

    def per_layer(self) -> dict[str, float]:
        from wsu_cpts_415_spark.ops.staging import staging_audit

        warm_calls = sum(c for c, _ in self.round_counts[1:])
        warm_hits = sum(h for _, h in self.round_counts[1:])
        return {
            "ops.staging.build_s": sum(self.round_builds[0].values()),
            "ops.staging.layers_built": len(self.round_builds[0]),
            "ops.staging.bytes": sum(r["bytes"] for r in staging_audit()),
            "ops.staging.hit_ratio": warm_hits / warm_calls if warm_calls else 0.0,
            "ops.staging.cold_round_s": self.extras()["cold_s"][0],
            "ops.staging.warm_round_s": self.extras()["warm_s"][0],
        }


class ReferencePipeline(Workload):
    """The paper's batch pipeline: ingest a crawl tree, validate the
    store, run the four analyses, write the report and the charts."""

    ANALYSES = ("link_analysis", "correlation_matrix", "scc_components",
                "scc_cluster_rollup", "trending_rankings")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.crawl = ctx.path("crawl")

    def prepare(self) -> None:
        self.expect = gen.make_crawl(
            self.crawl, self.ctx.size["videos"], self.ctx.rng, self.ctx.size["ring"]
        )

    def make_round(self, rnd: int) -> list[Op]:
        from itertools import combinations

        from wsu_cpts_415_spark.io.ingest import (
            ingest_crawl, read_videos_store, validate_store,
        )
        from wsu_cpts_415_spark.pipelines import charts
        from wsu_cpts_415_spark.pipelines.correlation import (
            NUMERIC_COLS, correlation_matrix,
        )
        from wsu_cpts_415_spark.pipelines.link_analysis import link_analysis
        from wsu_cpts_415_spark.pipelines.report import trending_report
        from wsu_cpts_415_spark.pipelines.scc import scc_cluster_rollup, scc_components
        from wsu_cpts_415_spark.pipelines.trending import trending_rankings

        spark, ex = self.ctx.spark, self.expect
        out = self.ctx.path(f"round{rnd}")
        store = os.path.join(out, "store")
        s: dict = {}  # outputs that later stages of the round consume

        def ingest():
            return ingest_crawl(
                spark, self.crawl, store, os.path.join(out, "rejects"),
                os.path.join(out, "jsonl"), os.path.join(out, "totals"),
            )

        def check_ingest(stats) -> None:
            expect_equal("parsed", stats.parsed, ex.parsed)
            expect_equal("rejected", stats.rejected, ex.rejected)
            expect_equal("duplicates", stats.duplicates, ex.duplicates)
            self.ingest_stats = stats

        def videos():
            s["videos"] = read_videos_store(spark, store)
            return s["videos"].count()

        def scc():
            s["comps"] = scc_components(s["videos"])
            return s["comps"].count()

        def rollup():
            s["rollup"] = scc_cluster_rollup(s["videos"], s["comps"])
            return s["rollup"].toPandas()

        def check_rollup(pdf) -> None:
            expect_equal("scc clusters", len(pdf), ex.rings)
            expect_equal("scc cluster sizes", set(pdf.cluster_size), {ex.ring_size})

        def trending():
            s["ranked"] = trending_rankings(s["videos"])
            return s["ranked"].toPandas()

        def report():
            path = os.path.join(out, "trending_report.txt")
            return trending_report(s["ranked"], path), path

        def draw():
            return [
                charts.link_analysis_chart(link_analysis(s["videos"]), os.path.join(out, "links.png")),
                charts.correlation_heatmap(
                    correlation_matrix(s["videos"]), os.path.join(out, "corr.png")
                ),
                charts.scc_rollup_chart(s["rollup"], os.path.join(out, "scc.png")),
            ]

        def check_pngs(paths) -> None:
            for p in paths:
                with open(p, "rb") as f:
                    expect_equal(p, f.read(8), b"\x89PNG\r\n\x1a\n")

        pairs = len(list(combinations(NUMERIC_COLS, 2)))
        return [
            Op("ingest_crawl", ingest, check_ingest, "io.ingest.ingest_crawl"),
            Op("validate_store", lambda: validate_store(spark, self.crawl, store).toPandas(),
               lambda pdf: expect_equal("validate_store rows", len(pdf), 0),
               "io.ingest.validate_store"),
            Op("read_videos_store", videos,
               lambda n: expect_equal("store rows", n, ex.parsed - ex.duplicates),
               "io.ingest.read_videos_store"),
            Op("link_analysis", lambda: link_analysis(s["videos"]).toPandas(),
               lambda pdf: expect_equal("link rows, links", (len(pdf), int(pdf.times_linked.sum())),
                                        (ex.linked_ids, ex.links)),
               "pipelines.link_analysis"),
            Op("correlation_matrix", lambda: correlation_matrix(s["videos"]).toPandas(),
               lambda pdf: expect_equal("correlation pairs", int(pdf["corr"].notna().sum()), pairs),
               "pipelines.correlation_matrix"),
            Op("scc_components", scc,
               lambda n: expect_equal("scc labels", n, ex.parsed - ex.duplicates),
               "pipelines.scc_components"),
            Op("scc_cluster_rollup", rollup, check_rollup, "pipelines.scc_cluster_rollup"),
            Op("trending_rankings", trending,
               lambda pdf: expect_equal("trending rows", len(pdf), ex.trending_rows),
               "pipelines.trending_rankings"),
            Op("trending_report", report,
               lambda r: expect_equal("report written", os.path.getsize(r[1]) > 0 and bool(r[0]), True),
               "pipelines.trending_report"),
            Op("charts", draw, check_pngs, "pipelines.charts"),
        ]

    def extras(self) -> dict[str, tuple[float, str]]:
        return {
            "ingest_rows_per_s": (self.expect.lines / self.ctx.bench.op_median("ingest_crawl"), "1/s"),
            "analysis_s": (sum(self.ctx.bench.op_median(n) for n in self.ANALYSES), "s"),
        }

    def per_layer(self) -> dict[str, float]:
        written = 0
        last = self.ctx.path(f"round{len(self.ctx.bench.rounds) - 1}")
        for sub in ("store", "rejects", "jsonl", "totals"):
            for base, _, files in os.walk(os.path.join(last, sub)):
                written += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        stats = getattr(self, "ingest_stats", None)
        jobs = self.ctx.bench.jobs_by_op.get("scc_components", [(0, 0, 0)])
        return {
            "io.ingest.ingest_crawl_s": self.ctx.bench.op_median("ingest_crawl"),
            "io.ingest.rows_per_s": self.extras()["ingest_rows_per_s"][0],
            "io.ingest.parsed": stats.parsed if stats else 0,
            "io.ingest.rejected": stats.rejected if stats else 0,
            "io.ingest.duplicates": stats.duplicates if stats else 0,
            "io.ingest.bytes_written_per_input_byte": written / self.expect.input_bytes,
            "io.ingest.validate_store_s": self.ctx.bench.op_median("validate_store"),
            "pipelines.link_analysis_s": self.ctx.bench.op_median("link_analysis"),
            "pipelines.correlation_s": self.ctx.bench.op_median("correlation_matrix"),
            "pipelines.scc_s": self.ctx.bench.op_median("scc_components")
            + self.ctx.bench.op_median("scc_cluster_rollup"),
            "pipelines.scc_jobs": statistics.median(j for j, _, _ in jobs),
            "pipelines.trending_s": self.ctx.bench.op_median("trending_rankings"),
            "pipelines.report_s": self.ctx.bench.op_median("trending_report"),
            "pipelines.charts_s": self.ctx.bench.op_median("charts"),
            "pipelines.analysis_s": self.extras()["analysis_s"][0],
        }


class Streaming(QueryWorkload):
    """The dedup gate over seeded micro-batches, then the registry's
    streaming queries replayed with trigger(availableNow)."""

    def query_names(self) -> list[str]:
        return list(STREAMING_QUERIES)

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        super().prepare()
        corpus = pq.read_table(os.path.join(self.sf_dir, "documents.parquet")).column("text")
        self.offered, self.accepted = gen.make_incoming(
            self.ctx.path("incoming"), corpus.to_pylist(), self.ctx.size["batches"],
            self.ctx.size["batch_docs"], self.ctx.rng,
        )
        self.batch_s: list[float] = []

    def setup(self) -> None:
        from wsu_cpts_415_spark.io.tables import load_table
        from wsu_cpts_415_spark.streaming.ingest_dedup import init_standing_stores

        super().setup()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.init_standing_stores"):
            init_standing_stores(
                self.ctx.spark, load_table(self.ctx.spark, self.sf_dir, "documents"),
                self.ctx.path("stores"),
            )
        self.init_s = time.perf_counter() - t0

    def make_round(self, rnd: int) -> list[Op]:
        from pyspark.sql import functions as F

        from wsu_cpts_415_spark.streaming.ingest_dedup import stream_ingest_with_dedup

        spark = self.ctx.spark
        out = self.ctx.path(f"round{rnd}")
        store = os.path.join(out, "stores")
        # every round gates against the same standing corpus
        shutil.copytree(self.ctx.path("stores"), store)
        accepted = os.path.join(out, "accepted")
        ticks: list[float] = []

        def gate():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(self.ctx.path("incoming"))
            )
            ticks.append(time.perf_counter())
            stream_ingest_with_dedup(
                stream, store, accepted, os.path.join(out, "checkpoint"),
                on_batch_end=lambda _: ticks.append(time.perf_counter()),
            )
            self.batch_s.extend(b - a for a, b in zip(ticks, ticks[1:]))
            return len(ticks) - 1

        def check_gate(batches: int) -> None:
            expect_equal("micro-batches", batches, self.ctx.size["batches"])
            n = spark.read.parquet(accepted).select(F.count("*")).first()[0]
            expect_equal("accepted documents", n, self.accepted)

        return [
            Op("stream_ingest_with_dedup", gate, check_gate,
               "streaming.stream_ingest_with_dedup"),
            *super().make_round(rnd),
        ]

    def extras(self) -> dict[str, tuple[float, str]]:
        gate_s = self.ctx.bench.op_median("stream_ingest_with_dedup")
        return {
            "batch_p50_s": (statistics.median(self.batch_s), "s"),
            "batches": (len(self.batch_s), "count"),
            "stream_docs_per_s": (self.offered / gate_s, "1/s"),
        }

    def per_layer(self) -> dict[str, float]:
        rounds = len(self.ctx.bench.timed_rounds)
        return {
            "streaming.init_stores_s": self.init_s,
            "streaming.batch_s": sum(self.batch_s) / rounds,
            "streaming.batches": len(self.batch_s) / rounds,
            "streaming.batch_p50_s": self.extras()["batch_p50_s"][0],
            "streaming.docs_per_s": self.extras()["stream_docs_per_s"][0],
        }


WORKLOADS = {
    "relational": Relational,
    "reference_pipeline": ReferencePipeline,
    "curation": Curation,
    "streaming": Streaming,
}
