"""Streaming boilerplate gate (streaming/line_gate.py): the standing
line-frequency store extends batch-over-batch, within-batch frequency
counts are simultaneous (not order-dependent), replay after a mid-commit
kill is exactly-once, and a first run without a bootstrapped store gates
against an empty corpus.

Texts are built from disjoint 8-token lines so boilerplate fractions are
exact: a 2-line doc sharing one line scores ratio 0.5 == the rejection
threshold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wsu_cpts_415_spark.streaming.line_gate import (
    apply_line_gate_batch,
    init_line_store,
    stream_ingest_line_gate,
)

SCHEMA = "doc_id long, text string"


def _line(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(8))


def _doc(*tags: str) -> str:
    return " ".join(_line(t) for t in tags)


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run(spark, src, store, accepted, ckpt, **kw):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    stream_ingest_line_gate(stream, store, accepted, ckpt, **kw)


def _accepted_ids(spark, path):
    return sorted(
        r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()
    )


@pytest.fixture()
def stores(spark, tmp_path):
    store = str(tmp_path / "store")
    init_line_store(spark, spark.createDataFrame(CORPUS, SCHEMA), store)
    return {
        "store": store,
        "src": str(tmp_path / "incoming"),
        "accepted": str(tmp_path / "accepted"),
        "ckpt": str(tmp_path / "ckpt"),
    }


CORPUS = [(1, _doc("a", "b"))]
BATCH1 = [
    (10, _doc("a", "c")),  # shares line a with corpus doc 1 -> ratio 0.5 -> reject
    (11, _doc("d", "e")),  # novel -> admit
]
BATCH2 = [
    (20, _doc("d", "f")),  # shares line d with ADMITTED 11 -> reject
    (21, _doc("g", "h")),  # novel -> admit
]


def test_store_extends_across_batches(spark, stores):
    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]
    _write(spark, BATCH2, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]
    # line store = corpus doc + the two admitted docs, 2 lines each
    counts = spark.read.parquet(stores["store"] + "/line_counts")
    assert counts.agg(F.sum("n_docs")).collect()[0][0] == 2 + 2 + 2


def test_within_batch_frequency_is_simultaneous(spark, stores):
    """Two batch docs sharing a line each see df=2: BOTH are rejected --
    admission must not depend on any within-batch processing order."""
    _write(
        spark,
        [(30, _doc("p", "q")), (31, _doc("p", "r")), (32, _doc("s", "t"))],
        stores["src"],
    )
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [32]


def test_replay_after_midcommit_kill_is_exactly_once(spark, stores):
    _write(spark, BATCH1, stores["src"])
    boom = {"armed": True}

    def injector(batch_id):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected mid-commit failure")

    with pytest.raises(Exception, match="injected"):
        _run(
            spark,
            stores["src"],
            stores["store"],
            stores["accepted"],
            stores["ckpt"],
            on_batch_end=injector,
        )
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]
    counts = spark.read.parquet(stores["store"] + "/line_counts")
    # corpus 2 lines + doc 11's 2 lines, each n_docs=1 -- no double apply
    assert counts.count() == 4
    assert counts.agg(F.max("n_docs")).collect()[0][0] == 1


def test_first_run_without_store(spark, tmp_path):
    store = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    _write(spark, BATCH1, src)
    _run(spark, src, store, accepted, ckpt)
    # empty standing corpus: 10 no longer collides with anything
    assert _accepted_ids(spark, accepted) == [10, 11]
    _write(spark, BATCH2, src)
    _run(spark, src, store, accepted, ckpt)
    # 20 shares line d with batch-0-admitted 11 -> rejected
    assert _accepted_ids(spark, accepted) == [10, 11, 21]


def test_zero_admitted_replay_clears_stale_partitions(spark, stores):
    batch = spark.createDataFrame([(40, _doc("a", "b"))], SCHEMA)  # all bp
    # permissive threshold admits everything; _batch=0 partitions land
    apply_line_gate_batch(batch, 0, stores["store"], stores["accepted"], 1.5)
    assert _accepted_ids(spark, stores["accepted"]) == [40]
    # replay at the normal threshold: doc 40 is fully boilerplate now
    apply_line_gate_batch(batch, 0, stores["store"], stores["accepted"], 0.5)
    assert not [
        f for f in os.listdir(stores["accepted"]) if f.startswith("_batch=")
    ]
    counts = spark.read.parquet(stores["store"] + "/line_counts")
    assert counts.agg(F.max("n_docs")).collect()[0][0] == 1  # corpus only


def test_empty_batch_writes_nothing_and_drops_stale_partitions(spark, stores):
    """A degenerate (empty) micro-batch admits nothing and writes no
    partition; a stale ``_batch=<id>`` partition an earlier attempt of
    the same batch left is dropped."""
    empty = spark.createDataFrame([], SCHEMA)
    assert apply_line_gate_batch(empty, 0, stores["store"], stores["accepted"]) == 0
    assert not os.path.exists(stores["accepted"])
    batch = spark.createDataFrame([(41, _doc("x", "y"))], SCHEMA)
    assert apply_line_gate_batch(batch, 1, stores["store"], stores["accepted"]) == 1
    assert apply_line_gate_batch(empty, 1, stores["store"], stores["accepted"]) == 0
    assert not [
        f for f in os.listdir(stores["accepted"]) if f.startswith("_batch=")
    ]
    assert [
        f
        for f in os.listdir(stores["store"] + "/line_counts")
        if f.startswith("_batch=")
    ] == ["_batch=-1"]


def test_stream_scans_each_batch_once(spark, stores):
    """The gate, its materialization and the store writes read the
    micro-batch from ONE scan (``apply_line_gate_batch`` persists it for
    the gate's three reads): the stream's numInputRows per batch is
    exactly the rows offered in it."""
    _write(spark, BATCH1, stores["src"])
    _write(spark, BATCH2, stores["src"])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stores["src"])
    )
    q = stream_ingest_line_gate(
        stream, stores["store"], stores["accepted"], stores["ckpt"]
    )
    assert [p.numInputRows for p in q.recentProgress] == [len(BATCH1), len(BATCH2)]
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]


def test_reinit_same_corpus_is_a_read_and_preserves_batches(spark, stores):
    """Gate restart: a second init over the SAME corpus must skip the
    rebuild, whose whole-store overwrite would wipe the _batch>=0
    partitions the gate had appended."""
    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    part = os.path.join(stores["store"], "line_counts", "_batch=0")
    assert os.path.isdir(part)
    init_line_store(spark, spark.createDataFrame(CORPUS, SCHEMA), stores["store"])
    assert os.path.isdir(part), "line_counts lost its appended batch on re-init"
    # BATCH2's doc 20 shares line d with admitted doc 11: still rejected
    _write(spark, BATCH2, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]


def test_reinit_rebuilds_when_store_lost_despite_marker(spark, stores):
    """A matching marker must NOT make init a no-op when line_counts was
    lost: the gate would read the missing store as an empty corpus and
    silently admit the corpus's boilerplate."""
    import shutil

    shutil.rmtree(f"{stores['store']}/line_counts")
    init_line_store(spark, spark.createDataFrame(CORPUS, SCHEMA), stores["store"])
    counts = spark.read.parquet(stores["store"] + "/line_counts")
    assert counts.agg(F.sum("n_docs")).collect()[0][0] == 2  # corpus doc's 2 lines
    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]


def test_reinit_survives_corrupt_marker(spark, stores):
    """A corrupt marker file (half-written crash artifact) must trigger a
    rebuild, not an exception out of the restart check."""
    import pathlib

    marker = pathlib.Path(stores["store"]) / "_corpus_id_line"
    next(marker.glob("*.parquet")).write_bytes(b"not a parquet file")
    init_line_store(spark, spark.createDataFrame(CORPUS, SCHEMA), stores["store"])
    counts = spark.read.parquet(stores["store"] + "/line_counts")
    assert counts.agg(F.sum("n_docs")).collect()[0][0] == 2
    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]
