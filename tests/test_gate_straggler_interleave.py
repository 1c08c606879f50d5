"""Interleaved-straggler replay for the two streaming standing-store
gates (the round-7 verdict's task #4): the foreachBatch gates' hazard
is a crash PARTWAY through the multi-store write sequence -- some
stores hold the batch's partition, others don't, and the stores are
mutually inconsistent until the checkpoint replay rewrites them.

Each test crashes the batch body at EVERY cut point of its write
sequence (ingest_dedup: accepted -> digests -> bands -> shingles;
line_gate: accepted -> line_counts) by patching the concrete
``DataFrameWriter.parquet`` to raise on the k-th call, asserts the
partial state really happened (the earlier store holds the batch
partition, the later one doesn't), then replays through the real stream
from the same checkpoint and asserts the final state is exactly the
clean-run state -- dynamic partition overwrite + exclude_batch +
deriving every store from one materialization of the admitted rows
(whose lineage cannot reach the standing stores) must converge from ANY
interleaving."""

from __future__ import annotations

import contextlib
import os

import pytest

import pyspark.sql.readwriter as _rw


@contextlib.contextmanager
def _crash_on_kth_parquet_write(k: int):
    """Raise inside the k-th DataFrameWriter.parquet call, then disarm
    (the replay run must write normally)."""
    orig = _rw.DataFrameWriter.parquet
    state = {"n": 0}

    def patched(self, path, **kw):
        state["n"] += 1
        if state["n"] == k:
            raise RuntimeError("injected interleave crash")
        return orig(self, path, **kw)

    _rw.DataFrameWriter.parquet = patched
    try:
        yield
    finally:
        _rw.DataFrameWriter.parquet = orig


def _has_batch_partition(base: str, batch_id: int) -> bool:
    return os.path.isdir(os.path.join(base, f"_batch={batch_id}"))


SCHEMA = "doc_id long, text string"

# same deterministic fixture shapes as tests/test_streaming_ingest.py:
# identical shingle sets make LSH candidacy certain (Jaccard exactly 1)
DOCS = [
    (10, "alpha beta alpha beta alpha"),  # near-dups corpus doc 1 -> reject
    (11, "gamma delta gamma delta"),  # novel -> accept
    (12, "gamma delta gamma delta"),  # exact in-batch dup of 11 -> reject
]


def _write_src(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.mark.parametrize("cut", [1, 2, 3, 4])
def test_ingest_dedup_replay_converges_from_any_cut(spark, tmp_path, cut):
    from wsu_cpts_415_spark.streaming.ingest_dedup import (
        init_standing_stores,
        stream_ingest_with_dedup,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame([(1, "alpha beta alpha beta")], SCHEMA)
    init_standing_stores(spark, corpus, store)
    _write_src(spark, DOCS, src)

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        stream_ingest_with_dedup(stream, store, accepted, ckpt)

    # write model inside the batch body (round 10): accepted lands
    # FIRST (sequential), then digests/bands/shingles are submitted
    # CONCURRENTLY -- cut 1 dies in the accepted write (nothing lands),
    # cuts 2-4 kill exactly ONE of the three parallel derived writes
    # (nondeterministically which) while the other two complete
    with _crash_on_kth_parquet_write(cut):
        with pytest.raises(Exception, match="injected interleave crash"):
            run()

    derived = [
        f"{store}/digests",
        f"{store}/bands",
        f"{store}/shingles",
    ]
    landed = [b for b in derived if _has_batch_partition(b, 0)]
    if cut == 1:
        assert not _has_batch_partition(accepted, 0), (
            "accepted landed past the crash point"
        )
        assert landed == [], (
            f"cut=1: derived stores wrote before accepted landed: {landed}"
        )
    else:
        assert _has_batch_partition(accepted, 0), (
            f"cut={cut}: accepted should hold the partial partition"
        )
        # the interleaved partial state must be real: the crashed write's
        # store is missing, its two siblings completed
        assert len(landed) == 2, (
            f"cut={cut}: expected exactly one derived store missing, "
            f"landed={landed}"
        )

    # checkpoint replay from the partial state must converge to exactly
    # the clean-run outcome (no double-apply, no missing store rows)
    run()
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(accepted).select("doc_id").collect()
    )
    assert got == [11]
    for name, per_doc_rows in (("digests", 1), ("bands", 4), ("shingles", 1)):
        df = spark.read.parquet(f"{store}/{name}")
        ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
        assert ids == [1] * per_doc_rows + [11] * per_doc_rows, (
            f"{name} inconsistent after replay from cut={cut}: {ids}"
        )


@pytest.mark.parametrize("cut", [1, 2])
def test_line_gate_replay_converges_from_any_cut(spark, tmp_path, cut):
    from wsu_cpts_415_spark.streaming.line_gate import (
        init_line_store,
        stream_ingest_line_gate,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    # corpus docs push the shared line to BOILERPLATE_DF so doc 40
    # (all boilerplate lines) is rejected and doc 41 is admitted
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "alpha beta")], SCHEMA
    )
    init_line_store(spark, corpus, store)
    _write_src(
        spark,
        [(40, "alpha beta"), (41, "epsilon zeta epsilon zeta")],
        src,
    )

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        stream_ingest_line_gate(stream, store, accepted, ckpt)

    with _crash_on_kth_parquet_write(cut):
        with pytest.raises(Exception, match="injected interleave crash"):
            run()

    seq = [accepted, f"{store}/line_counts"]
    for i, base in enumerate(seq, start=1):
        if i < cut:
            assert _has_batch_partition(base, 0)
        else:
            assert not _has_batch_partition(base, 0)

    run()
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(accepted).select("doc_id").collect()
    )
    assert got == [41]
    store_batches = (
        spark.read.parquet(f"{store}/line_counts")
        .select("_batch")
        .distinct()
        .collect()
    )
    assert sorted(r["_batch"] for r in store_batches) == [-1, 0], (
        f"line store inconsistent after replay from cut={cut}"
    )
