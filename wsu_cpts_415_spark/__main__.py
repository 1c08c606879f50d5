"""Command-line entry points (the engine's equivalent of the reference's
console scripts, pyproject.toml:34-41 -- analyze_links / trending /
correlation / graph_filter / load_data, minus the Tkinter GUI):

    python -m wsu_cpts_415_spark list
    python -m wsu_cpts_415_spark run <query> [--sf-dir DIR] [--limit N]
                                            [--out PARQUET_DIR]
    python -m wsu_cpts_415_spark report [--sf-dir DIR] [--out FILE]
    python -m wsu_cpts_415_spark ingest <crawl_root> <store_dir>
                                        [--rejects DIR] [--jsonl DIR]
                                        [--totals DIR]

Every reference analysis is a named query here (`run ref_link_analysis`,
`run ref_trending_rankings`, `run ref_correlation_matrix`,
`run ref_scc_rollup`); results print to stdout or write to parquet
instead of MongoDB collections.  Timing lives in the benchmark
(``python3 perfbench/run.py``, workloads declared in BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wsu_cpts_415_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a named query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--out", help="write full result to this parquet dir")

    repp = sub.add_parser("report", help="trending text report (S11)")
    repp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    repp.add_argument("--out", help="write report to this file")

    chp = sub.add_parser(
        "charts", help="render the reference's three PNG artifacts (S10/S11)"
    )
    chp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    chp.add_argument("--out-dir", default=".")

    pap = sub.add_parser(
        "plan-audit", help="write a physical-plan audit table (PLANS.md)"
    )
    pap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pap.add_argument("--out", default="PLANS.md")
    pap.add_argument(
        "--queries",
        nargs="*",
        help="query names (default: the full registry)",
    )

    shp = sub.add_parser(
        "shuffle-audit",
        help="measured shuffle/broadcast volumes per query (SHUFFLES.md)",
    )
    shp.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    shp.add_argument("--out", default="SHUFFLES.md")
    shp.add_argument(
        "--queries",
        nargs="*",
        help="query names (default: the full registry)",
    )

    confp = sub.add_parser(
        "conformance",
        help="oracle-differential check vs DuckDB (the driver contract)",
    )
    confp.add_argument("names", nargs="*", help="query names (default: all)")
    confp.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    ingp = sub.add_parser("ingest", help="load a raw TSV crawl tree")
    ingp.add_argument("crawl_root")
    ingp.add_argument("store_dir")
    ingp.add_argument("--rejects")
    ingp.add_argument("--jsonl")
    ingp.add_argument("--totals")

    isp = sub.add_parser(
        "ingest-stream",
        help="stream a documents dir through an admission gate",
    )
    isp.add_argument("incoming_dir", help="parquet dir watched as a stream")
    isp.add_argument("store_dir", help="standing digest/band/shingle stores")
    isp.add_argument("accepted_dir")
    isp.add_argument("checkpoint_dir")
    isp.add_argument(
        "--init-corpus",
        help="parquet path of the standing corpus; initializes the stores",
    )
    isp.add_argument("--threshold", type=float, default=None)
    isp.add_argument(
        "--gate",
        choices=("dedup", "lines"),
        default="dedup",
        help="dedup = exact+LSH near-dup gate; lines = CCNet-style"
        " boilerplate line-frequency gate",
    )

    sap = sub.add_parser(
        "staging-audit",
        help="inventory the durable staging root (layers, fp dirs, bytes)",
    )
    sap.add_argument("--root", default=None, help="override staging root")

    args = p.parse_args(argv)

    if args.cmd == "staging-audit":
        from wsu_cpts_415_spark.ops.staging import (
            STAGING_KEEP_LATEST,
            staging_audit,
        )

        rows = staging_audit(args.root)
        total = sum(r["bytes"] for r in rows)
        print(f"{'dataset':14s} {'layer':28s} {'fp_dirs':>7s} {'files':>6s} {'bytes':>12s}")
        for r in rows:
            flag = " OVER-RETENTION" if r["fp_dirs"] > STAGING_KEEP_LATEST else ""
            print(
                f"{r['dataset']:14s} {r['layer']:28s} {r['fp_dirs']:7d}"
                f" {r['files']:6d} {r['bytes']:12d}{flag}"
            )
        print(f"total bytes: {total} (keep-latest-{STAGING_KEEP_LATEST} per layer)")
        return 0

    from wsu_cpts_415_spark.registry import all_queries

    if args.cmd == "list":
        for name, q in sorted(all_queries().items()):
            kind = "sql-oracle" if q.oracle else "rows-only"
            doc = (q.doc or "").strip().splitlines()[0] if q.doc else ""
            print(f"{name:32s} [{kind}] {doc}")
        return 0

    from wsu_cpts_415_spark.session import get_spark

    spark = get_spark(app_name=f"wsu_cpts_415_spark-{args.cmd}")

    if args.cmd == "run":
        qs = all_queries()
        if args.query not in qs:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        df = qs[args.query].fn(spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "report":
        from wsu_cpts_415_spark.pipelines.report import trending_report
        from wsu_cpts_415_spark.pipelines.trending import trending_rankings
        from wsu_cpts_415_spark.pipelines.videos import videos_nested

        text = trending_report(
            trending_rankings(videos_nested(spark, args.sf_dir)), path=args.out
        )
        if not args.out:
            print(text)
        return 0

    if args.cmd == "charts":
        import os

        from wsu_cpts_415_spark.pipelines.charts import (
            correlation_heatmap,
            link_analysis_chart,
            scc_rollup_chart,
        )
        from wsu_cpts_415_spark.registry import all_queries

        qs = all_queries()
        os.makedirs(args.out_dir, exist_ok=True)
        for fn, query, fname in (
            (link_analysis_chart, "ref_link_analysis", "analyze_links.png"),
            (correlation_heatmap, "ref_correlation_matrix", "correlation_heatmap.png"),
            (scc_rollup_chart, "ref_scc_rollup", "graph_filter.png"),
        ):
            out = fn(qs[query].fn(spark, args.sf_dir), os.path.join(args.out_dir, fname))
            print(f"wrote {out}")
        return 0

    if args.cmd == "plan-audit":
        from wsu_cpts_415_spark.ops.plan_audit import audit, render_markdown

        qs = all_queries()
        if args.queries:
            names = args.queries
        else:
            names = sorted(qs)
        audits = [audit(n, qs[n].fn(spark, args.sf_dir)) for n in names]
        md = render_markdown(audits, args.sf_dir)
        with open(args.out, "w") as f:
            f.write(md)
        print(f"wrote {args.out} ({len(audits)} queries)")
        return 0

    if args.cmd == "shuffle-audit":
        from wsu_cpts_415_spark.ops.metrics import shuffle_profile

        qs = all_queries()
        if args.queries:
            names = args.queries
        else:
            names = sorted(qs)
        lines = [
            "# SHUFFLES — measured data movement per query",
            "",
            f"Runtime SQLMetrics of the final (post-AQE) executed plan at"
            f" `{args.sf_dir}`, via `ops/metrics.py shuffle_profile`."
            "  `sh_bytes`/`sh_recs` = total shuffle writes; `n_sh` ="
            " exchanges run; `bc_bytes` = broadcast sizes; `scan_rows` ="
            " rows out of file scans.  Regenerate with"
            " `python -m wsu_cpts_415_spark shuffle-audit`.",
            "",
            "| query | sh_bytes | sh_recs | n_sh | bc_bytes | scan_rows |",
            "|---|---|---|---|---|---|",
        ]
        for n in names:
            if n not in qs:
                continue
            try:
                prof = shuffle_profile(qs[n].fn(spark, args.sf_dir))
            except Exception as exc:  # pragma: no cover - audit resilience
                lines.append(f"| {n} | err: {str(exc)[:40]} | | | | |")
                continue
            lines.append(
                f"| {n} | {prof['shuffle_bytes']:,} |"
                f" {prof['shuffle_records']:,} | {prof['n_shuffles']} |"
                f" {prof['broadcast_bytes']:,} | {prof['scan_rows']:,} |"
            )
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {args.out} ({len(lines) - 8} queries)")
        return 0

    if args.cmd == "conformance":
        from wsu_cpts_415_spark.ops.conformance import run_conformance

        results = run_conformance(spark, args.sf_dir, args.names or None)
        n_bad = 0
        for name, status in results.items():
            if status.startswith("FAIL"):
                n_bad += 1
                print(f"{name:40s} {status}")
        passed = sum(1 for s in results.values() if s == "PASS")
        rows_only = sum(1 for s in results.values() if s.startswith("rows-only"))
        print(
            f"conformance: {passed} PASS, {rows_only} rows-only, "
            f"{n_bad} FAIL of {len(results)}"
        )
        return 1 if n_bad else 0

    if args.cmd == "ingest-stream":
        if args.gate == "lines":
            from wsu_cpts_415_spark.queries.llm_filters import (
                LINE_GATE_THRESHOLD as JACCARD_THRESHOLD,
            )
            from wsu_cpts_415_spark.streaming.line_gate import (
                init_line_store as init_standing_stores,
            )
            from wsu_cpts_415_spark.streaming.line_gate import (
                stream_ingest_line_gate as stream_ingest_with_dedup,
            )
        else:
            from wsu_cpts_415_spark.queries.similarity import JACCARD_THRESHOLD
            from wsu_cpts_415_spark.streaming.ingest_dedup import (
                init_standing_stores,
                stream_ingest_with_dedup,
            )

        if args.init_corpus:
            init_standing_stores(
                spark, spark.read.parquet(args.init_corpus), args.store_dir
            )
        stream = spark.readStream.schema(
            spark.read.parquet(args.incoming_dir).schema
        ).parquet(args.incoming_dir)
        stream_ingest_with_dedup(
            stream,
            args.store_dir,
            args.accepted_dir,
            args.checkpoint_dir,
            threshold=JACCARD_THRESHOLD
            if args.threshold is None
            else args.threshold,
        )
        try:
            n = spark.read.parquet(args.accepted_dir).count()
        except Exception:  # nothing was ever accepted -> no store yet
            n = 0
        print(f"accepted store now holds {n} documents")
        return 0

    if args.cmd == "ingest":
        from wsu_cpts_415_spark.io.ingest import ingest_crawl

        stats = ingest_crawl(
            spark,
            args.crawl_root,
            args.store_dir,
            reject_dir=args.rejects,
            jsonl_dir=args.jsonl,
            totals_dir=args.totals,
        )
        print(
            f"parsed={stats.parsed} rejected={stats.rejected} "
            f"written={stats.written} duplicates={stats.duplicates}"
        )
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
