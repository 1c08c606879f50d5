"""Contract tests for ``ops.staging.staged_table`` -- the durable,
corpus-fingerprint-keyed staging layer behind the heavy ER projections
(minhash_hashed / snm_ranked / lev_candidates).  The properties a
restarted 100 TB session relies on:

* second session READS (the build function is never re-run for an
  unchanged corpus);
* a changed corpus re-keys the path and rebuilds (stale staged data can
  never serve a new corpus);
* values survive the parquet round-trip byte-identically;
* an unwritable staging root degrades to plain session staging, never
  to an error;
* retention keeps only the newest STAGING_KEEP_LATEST fingerprints per
  layer, and a GC'd fingerprint rebuilds correctly on demand;
* a changed build salt (tuned layer constant) re-keys the path, so a
  root that persists across code revisions never serves stale parquet;
* an untrusted root (not owned by this uid, or group/other-writable)
  is never read from or written to -- local cache-poisoning boundary.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.ops.staging import clear_staged, staged_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs_dir(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    load_table(spark, SF, "documents").limit(40).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture()
def staging_root(tmp_path, monkeypatch):
    root = tmp_path / "staging"
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(root))
    return str(root)


def _build(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )


def test_second_session_reads_not_rebuilds(spark, docs_dir, staging_root):
    first = staged_table(
        spark, "probe", docs_dir, lambda: _build(spark, docs_dir)
    )
    want = sorted(map(tuple, first.collect()))
    # simulate a restarted session: drop every in-memory memo, then ask
    # again with a build that would EXPLODE if invoked
    clear_staged()

    def boom():
        raise AssertionError("build re-ran despite durable staged table")

    again = staged_table(spark, "probe", docs_dir, boom)
    assert sorted(map(tuple, again.collect())) == want


def test_changed_corpus_rekeys_and_rebuilds(spark, docs_dir, staging_root):
    staged_table(spark, "probe", docs_dir, lambda: _build(spark, docs_dir))
    # change the corpus IN PLACE (same sf_dir) -- metadata-only change,
    # which the full-column fingerprint must catch.  Materialize to the
    # driver first: writing over the parquet a live plan reads from
    # races the scan
    rows = load_table(spark, docs_dir, "documents").collect()
    spark.createDataFrame(
        [(r.doc_id, r.text, "xx", r.source, r.n_chars) for r in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{docs_dir}/documents.parquet"
    )
    clear_staged()
    calls = []

    def build2():
        calls.append(1)
        return _build(spark, docs_dir)

    staged_table(spark, "probe", docs_dir, build2)
    assert calls, "changed corpus must rebuild, not serve stale staging"


def test_unwritable_root_degrades_to_session_staging(
    spark, docs_dir, monkeypatch
):
    monkeypatch.setenv(
        "SPARK_GRAFT_STAGING_DIR", "/proc/definitely/not/writable"
    )
    clear_staged()
    out = staged_table(
        spark, "probe", docs_dir, lambda: _build(spark, docs_dir)
    )
    assert out.count() == 40  # served, just not durable


def _mutate_corpus(spark, docs_dir, lang):
    rows = load_table(spark, docs_dir, "documents").collect()
    spark.createDataFrame(
        [(r.doc_id, r.text, lang, r.source, r.n_chars) for r in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{docs_dir}/documents.parquet"
    )
    clear_staged()


def test_gc_keeps_latest_n_and_gcd_fp_rebuilds(
    spark, docs_dir, staging_root
):
    import glob
    import os

    from wsu_cpts_415_spark.ops.staging import STAGING_KEEP_LATEST

    staged_table(spark, "probe", docs_dir, lambda: _build(spark, docs_dir))
    first = sorted(
        glob.glob(f"{staging_root}/*/probe/fp=*")
    )  # corpus A's staged dir
    for lang in ("aa", "bb", "cc"):
        _mutate_corpus(spark, docs_dir, lang)
        staged_table(
            spark, "probe", docs_dir, lambda: _build(spark, docs_dir)
        )
    fps = [
        p
        for p in glob.glob(f"{staging_root}/*/probe/fp=*")
        if ".trash-" not in p and ".tmp-" not in p
    ]
    assert len(fps) <= STAGING_KEEP_LATEST, fps
    assert not os.path.exists(first[0]), "oldest fp dir must be GC'd"
    # the GC'd fingerprint (corpus A) must rebuild correctly on demand
    _mutate_corpus(spark, docs_dir, "en")
    calls = []

    def build_again():
        calls.append(1)
        return _build(spark, docs_dir)

    out = staged_table(spark, "probe", docs_dir, build_again)
    assert out.count() == 40


def test_changed_salt_rekeys_and_rebuilds(spark, docs_dir, staging_root):
    staged_table(
        spark, "probe", docs_dir, lambda: _build(spark, docs_dir), salt="k2"
    )
    clear_staged()
    calls = []

    def build2():
        calls.append(1)
        return _build(spark, docs_dir)

    staged_table(spark, "probe", docs_dir, build2, salt="k3")
    assert calls, "changed build salt must rebuild, not serve stale staging"
    # and the same salt again is a pure read
    clear_staged()

    def boom():
        raise AssertionError("unchanged salt must read, not rebuild")

    staged_table(spark, "probe", docs_dir, boom, salt="k3")


def test_expect_cols_mismatch_discards_and_rebuilds(
    spark, docs_dir, staging_root
):
    staged_table(spark, "probe", docs_dir, lambda: _build(spark, docs_dir))
    clear_staged()
    calls = []

    def build2():
        calls.append(1)
        return _build(spark, docs_dir).withColumnRenamed("n", "m")

    out = staged_table(
        spark, "probe", docs_dir, build2, expect_cols=["doc_id", "m"]
    )
    assert calls, "schema-vet failure must discard and rebuild"
    assert "m" in out.columns


def test_untrusted_root_is_never_read_or_written(
    spark, docs_dir, tmp_path, monkeypatch
):
    import os

    root = tmp_path / "shared_staging"
    root.mkdir()
    os.chmod(root, 0o777)  # world-writable: cache-poisoning surface
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(root))
    clear_staged()
    out = staged_table(
        spark, "probe", docs_dir, lambda: _build(spark, docs_dir)
    )
    assert out.count() == 40  # served via session staging
    assert os.listdir(root) == [], "untrusted root must not be written"


def test_default_root_is_per_user_private(monkeypatch):
    import os
    import stat

    from wsu_cpts_415_spark.ops.staging import _staging_root

    monkeypatch.delenv("SPARK_GRAFT_STAGING_DIR", raising=False)
    root = _staging_root()
    assert root is not None and f"u{os.getuid()}" in os.path.basename(root)
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))


def test_default_root_is_invocation_ephemeral(monkeypatch):
    """Without SPARK_GRAFT_STAGING_DIR the root is per-process (fresh
    mkdtemp, stable within the process): no bench/oracle invocation can
    read parquet staged by a PREVIOUS invocation -- cross-session
    durability is opt-in via the env var only."""
    import os

    from wsu_cpts_415_spark.ops import staging

    monkeypatch.delenv("SPARK_GRAFT_STAGING_DIR", raising=False)
    r1 = staging._staging_root()
    r2 = staging._staging_root()
    assert r1 == r2, "one root per process"
    assert "_eph_" in os.path.basename(r1)
    assert r1 == staging._EPHEMERAL_ROOT[0]
    # the fixed pre-round-12 path must no longer be the default
    import tempfile

    fixed = os.path.join(
        tempfile.gettempdir(), f"spark_graft_staging_u{os.getuid()}"
    )
    assert r1 != fixed


def test_parquet_roundtrip_is_exact_for_staged_shapes(
    spark, docs_dir, staging_root
):
    """The real staged shapes carry string arrays and bigint arrays
    (minhash_hashed) -- pin that the round-trip preserves them."""
    def build():
        return load_table(spark, docs_dir, "documents").select(
            "doc_id",
            F.split("text", " ").alias("toks"),
            F.expr("transform(split(text, ' '), t -> xxhash64(t))").alias(
                "hs"
            ),
        )

    direct = sorted(
        (r.doc_id, tuple(r.toks), tuple(r.hs)) for r in build().collect()
    )
    staged = staged_table(spark, "arrays", docs_dir, build)
    got = sorted(
        (r.doc_id, tuple(r.toks), tuple(r.hs)) for r in staged.collect()
    )
    assert got == direct


def test_fingerprint_sidecar_skips_rescan(
    spark, docs_dir, staging_root, monkeypatch
):
    """Round 12: the corpus fingerprint is durably memoized in a
    stat-keyed sidecar, so a restarted session over an unchanged corpus
    neither re-runs the build NOR re-scans the corpus for the
    fingerprint -- the whole cold path is the staged parquet read."""
    staged_table(spark, "probe", docs_dir, lambda: _build(spark, docs_dir))
    clear_staged()

    import wsu_cpts_415_spark.io.tables as tables

    def bomb(*a, **k):
        raise AssertionError("fingerprint rescanned despite sidecar")

    monkeypatch.setattr(tables, "load_table", bomb)

    def boom():
        raise AssertionError("build re-ran despite durable staged table")

    out = staged_table(spark, "probe", docs_dir, boom)
    assert out.count() == 40


def test_gate_stats_memo_skips_the_aggregate_action(spark, docs_dir):
    """r12 optimization pin: ``maybe_broadcast(stats_key=...)`` memoizes
    the gate's (rows, bytes) per session, so a SECOND call over the same
    immutable input launches zero Spark jobs -- and both calls reach the
    identical broadcast decision.  The memo stores only the two scalars
    (never data), and ``clear_staged()`` drops it."""
    from wsu_cpts_415_spark.ops.staging import maybe_broadcast

    clear_staged()
    sc = spark.sparkContext
    docs = load_table(spark, docs_dir, "documents").select("doc_id", "lang")

    out1 = maybe_broadcast(docs, 10_000, stats_key=("t_gate", docs_dir))
    # gated under the bound: the hint must be applied
    assert "Hint broadcast" in out1._jdf.queryExecution().logical().toString()

    sc.setJobGroup("gate-memo-audit", "second gate call must be job-free")
    try:
        out2 = maybe_broadcast(docs, 10_000, stats_key=("t_gate", docs_dir))
        jobs = list(sc.statusTracker().getJobIdsForGroup("gate-memo-audit"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"memoized gate launched jobs: {jobs}"
    assert "Hint broadcast" in out2._jdf.queryExecution().logical().toString()

    # the memoized decision matches the uncached one on BOTH sides of
    # the bound: rows=40 here, so a bound of 10 must NOT hint -- from
    # the memo alone (still zero jobs)
    out3 = maybe_broadcast(docs, 10, stats_key=("t_gate", docs_dir))
    assert "Hint" not in out3._jdf.queryExecution().logical().toString()

    # clear_staged drops the memo: the next call re-measures (jobs again)
    clear_staged()
    sc.setJobGroup("gate-memo-audit-2", "post-clear gate call re-measures")
    try:
        maybe_broadcast(docs, 10_000, stats_key=("t_gate", docs_dir))
        jobs2 = list(
            sc.statusTracker().getJobIdsForGroup("gate-memo-audit-2")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs2, "post-clear gate call should have re-run the stats job"


def test_build_log_keys_each_dataset(spark, docs_dir, staging_root, tmp_path):
    """One layer name staged over two datasets logs two build entries:
    the log key carries the dataset, so their build costs never merge."""
    from wsu_cpts_415_spark.ops.staging import staging_build_log

    other = str(tmp_path / "corpus2")
    load_table(spark, docs_dir, "documents").limit(20).coalesce(1).write.parquet(
        f"{other}/documents.parquet"
    )
    for d in (docs_dir, other):
        staged_table(spark, "probe_log", d, lambda d=d: _build(spark, d))
    entries = [k for k in staging_build_log() if k.startswith("layer:probe_log@")]
    assert sorted(entries) == sorted(
        f"layer:probe_log@{d}" for d in (docs_dir, other)
    )
