"""Ingest-stage tests (SURVEY.md §2.1 S1-S7): raw TSV crawl tree ->
typed/reject split -> nested store with deterministic dedup -> control-total
reconciliation.  The crawl tree is written to tmp_path in the reference's
own raw format (date-named dirs, tab-separated lines, deliberate
malformations -- FIXTURES.md §B raw-ingest form)."""

from __future__ import annotations

import json
from datetime import date

import pytest
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.ingest import (
    control_totals,
    decode_crawl,
    dedup_first_writer,
    ingest_crawl,
    parse_directory_date,
    read_videos_store,
    scan_crawl_lines,
    to_nested,
    validate_store,
)

GOOD_0301 = [
    # id uploader age category length views rate ratings comments related...
    "vidA\tuserX\t700\tMusic\t300\t1000\t4.5\t10\t5\tvidB\tvidC",
    "vidB\tuserY\t711\tComedy\t25\t2000\t3.0\t3\t1",
    "vidC\tuserZ\t100\tMusic\t4000\t50\t5.0\t1\t0\tvidA",
]
BAD_0301 = [
    "short\tline",                                   # arity < 9
    "vidD\tuserW\tNaNage\tNews\t10\t5\t1.0\t0\t0",   # non-numeric age
]
GOOD_080409 = [
    "vidD\tuserW\t10\tNews\t600\t300\t2.5\t2\t2\tvidA",
    # exact duplicate key (upload_date, id) with different payloads
    "vidE\tuserV\t50\tFilm\t100\t10\t1.5\t1\t1",
    "vidE\tuserV2\t51\tFilm\t100\t11\t1.5\t1\t1",
]


@pytest.fixture(scope="module")
def crawl_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl")
    d1 = root / "0301"
    d1.mkdir()
    (d1 / "part1.txt").write_text("\n".join(GOOD_0301[:2] + BAD_0301) + "\n")
    (d1 / "part2.txt").write_text(GOOD_0301[2] + "\n")
    (d1 / "log_skipme.txt").write_text("not\tdata\n")
    (d1 / ".hidden.txt").write_text("not\tdata\n")
    (d1 / "notes.csv").write_text("wrong extension\n")
    d2 = root / "080409"
    d2.mkdir()
    (d2 / "crawl.txt").write_text("\n".join(GOOD_080409) + "\n")
    return str(root)


def test_scan_skips_log_hidden_and_non_txt(spark, crawl_root):
    lines = scan_crawl_lines(spark, crawl_root)
    assert lines.count() == len(GOOD_0301) + len(BAD_0301) + len(GOOD_080409)
    files = {r["src_file"].rsplit("/", 1)[1] for r in lines.collect()}
    assert files == {"part1.txt", "part2.txt", "crawl.txt"}


def test_decode_typed_and_rejects(spark, crawl_root):
    typed, rejects = decode_crawl(scan_crawl_lines(spark, crawl_root))
    assert typed.count() == len(GOOD_0301) + len(GOOD_080409)
    got_rejects = {r["line"] for r in rejects.collect()}
    assert got_rejects == set(BAD_0301)
    row = {r["id"]: r for r in typed.collect()}
    a = row["vidA"]
    assert a["age_days"] == 700 and a["views"] == 1000
    assert a["video_rate"] == 4.5
    assert a["related_ids"] == ["vidB", "vidC"]
    assert row["vidB"]["related_ids"] == []
    # dual-format directory dates (F9): mmdd -> 2007, yymmdd -> 20yy
    assert a["upload_date"] == date(2007, 3, 1)
    assert row["vidD"]["upload_date"] == date(2008, 4, 9)


def test_parse_directory_date_formats(spark):
    df = spark.createDataFrame(
        [("0301",), ("080409",), ("1231",), ("991231",), ("bogus",)], ["d"]
    )
    got = {
        r["d"]: r["p"]
        for r in df.select("d", parse_directory_date(F.col("d")).alias("p")).collect()
    }
    assert got["0301"] == date(2007, 3, 1)
    assert got["080409"] == date(2008, 4, 9)
    assert got["1231"] == date(2007, 12, 31)
    assert got["991231"] == date(2099, 12, 31)
    assert got["bogus"] is None


def test_dedup_is_deterministic(spark, crawl_root):
    typed, _ = decode_crawl(scan_crawl_lines(spark, crawl_root))
    nested = to_nested(typed)
    d1 = dedup_first_writer(nested)
    d2 = dedup_first_writer(nested.repartition(7))  # partitioning must not matter
    assert d1.count() == typed.count() - 1  # one dup key (vidE)
    r1 = {r["id"]: r for r in d1.collect()}
    r2 = {r["id"]: r for r in d2.collect()}
    assert r1["vidE"]["video_desc"]["uploader"] == r2["vidE"]["video_desc"]["uploader"]


def test_ingest_end_to_end(spark, crawl_root, tmp_path):
    out = str(tmp_path / "store")
    rej = str(tmp_path / "rejects")
    jl = str(tmp_path / "jsonl")
    tot = str(tmp_path / "totals")
    stats = ingest_crawl(
        spark, crawl_root, out, reject_dir=rej, jsonl_dir=jl, totals_dir=tot
    )
    assert stats.parsed == 6 and stats.rejected == 2
    assert stats.written == 5 and stats.duplicates == 1

    store = read_videos_store(spark, out)
    assert store.columns == [
        "id", "upload_date", "video_desc", "video_attri",
        "video_engagement", "related_ids",
    ]
    # date filter hits the partitioned layout (pruned scan, 1 partition)
    assert store.filter(F.col("upload_date") == "2007-03-01").count() == 3

    # JSON-lines sink round-trips through the canonical schema
    from wsu_cpts_415_spark.schemas import VIDEOS
    jdf = spark.read.text(jl, recursiveFileLookup=True).filter(
        ~F.input_file_name().contains("_SUCCESS")
    )
    parsed_back = jdf.select(
        F.from_json("value", VIDEOS).alias("v")
    ).select("v.*")
    assert parsed_back.count() == 6  # pre-dedup, as the reference writes
    assert {r["id"] for r in parsed_back.select("id").collect()} == {
        "vidA", "vidB", "vidC", "vidD", "vidE"
    }

    # control totals (S5) reconcile against the deduped store
    assert validate_store(spark, crawl_root, out).count() == 0
    totals = {
        json.loads(line)["upload_date"]: json.loads(line)
        for p in (tmp_path / "totals").glob("part-*.json")
        for line in p.read_text().splitlines()
    }
    assert totals["2007-03-01"]["parsed_lines"] == 3
    assert totals["2007-03-01"]["sum_views"] == 3050


def test_reference_parity_pipelines_run_on_ingested_store(spark, crawl_root, tmp_path):
    """The ingested store feeds the parity pipelines directly (same
    canonical schema as the derived fixture view)."""
    from wsu_cpts_415_spark.pipelines.link_analysis import link_analysis

    out = str(tmp_path / "store2")
    ingest_crawl(spark, crawl_root, out)
    videos = read_videos_store(spark, out)
    got = {r["id"]: r["times_linked"] for r in link_analysis(videos).collect()}
    # vidA referenced by vidC and vidD; vidB/vidC referenced by vidA
    assert got == {"vidA": 2, "vidB": 1, "vidC": 1}


def test_orc_roundtrip_all_tables(spark, tmp_path):
    """Source/sink format parity beyond parquet: every fixture table
    round-trips through ORC with identical rows (S8/S9 across formats)."""
    from wsu_cpts_415_spark.io.tables import load_tables

    for name, df in load_tables(spark, "/root/testdata/sf0.001").items():
        path = str(tmp_path / f"{name}.orc")
        df.write.mode("overwrite").orc(path)
        back = spark.read.schema(df.schema).orc(path)
        assert back.count() == df.count(), name
        a = sorted(map(str, df.collect()))
        b = sorted(map(str, back.collect()))
        assert a == b, f"{name} ORC round-trip mismatch"
