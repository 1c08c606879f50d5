"""Streaming ingest-with-dedup gate (streaming/ingest_dedup.py): the
standing stores extend batch-over-batch (a doc admitted in batch N
rejects its near-dups in batch N+1), the within-batch exact and
near-dup rules are deterministic, and a mid-commit kill + checkpoint
replay cannot double-apply a batch into the accepted store or the
standing stores.

Near-dup cases use texts with DIFFERENT digests but IDENTICAL bigram
shingle sets, so LSH candidacy is certain (identical signatures) and the
verified Jaccard is exactly 1.0 -- no probabilistic flakiness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_during
from wsu_cpts_415_spark.queries.similarity import _spark_hashed, bands_from_hashed
from wsu_cpts_415_spark.streaming.ingest_dedup import (
    STORE_SCHEMAS,
    apply_ingest_batch,
    init_standing_stores,
    stream_ingest_with_dedup,
)
from wsu_cpts_415_spark.streaming.line_gate import doc_line_counts, line_digests_of

SCHEMA = "doc_id long, text string"


# Reference derivations of each standing store from a document frame.
# The digest and the compact shingle hash are spelled out here rather
# than imported, so a store test fails if the gate's row format drifts.
def bands_of(docs):
    return bands_from_hashed(_spark_hashed(docs))


def _digests_of(docs):
    return docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("digest"))


def _h64_of(docs):
    return _spark_hashed(docs).select(
        "doc_id", F.expr("transform(shingles, s -> xxhash64(s))").alias("h64")
    )


def _line_counts_of(docs):
    return doc_line_counts(line_digests_of(docs))


# Spark jobs one BATCH1 micro-batch may run: measured 10 on 4 cores --
# the landing checkpoint's 6 query-stage jobs, the accepted write and
# the three concurrent store writes.  Broadcasting the survivors' shingle
# arrays apart from their bands and joining the admitted ids back to
# the survivors made it 15; the probe-and-re-read landing ran 36-37 in
# the caller's job group and 3 more (the store writes) outside it.
JOB_BOUND = 10


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run(spark, src, store, accepted, ckpt, **kw):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    stream_ingest_with_dedup(stream, store, accepted, ckpt, **kw)


@pytest.fixture()
def stores(spark, tmp_path):
    store = str(tmp_path / "store")
    corpus = spark.createDataFrame(
        [(1, "alpha beta alpha beta")], SCHEMA
    )
    init_standing_stores(spark, corpus, store)
    return {
        "store": store,
        "src": str(tmp_path / "incoming"),
        "accepted": str(tmp_path / "accepted"),
        "ckpt": str(tmp_path / "ckpt"),
    }


BATCH1 = [
    (10, "alpha beta alpha beta alpha"),  # same shingles as corpus doc 1 -> reject
    (11, "gamma delta gamma delta"),  # novel -> accept
    (12, "gamma delta gamma delta"),  # exact in-batch dup of 11 -> reject
]
BATCH2 = [
    (20, "gamma delta gamma delta gamma"),  # near-dups ACCEPTED 11 -> reject
    (21, "epsilon zeta epsilon zeta"),  # novel -> accept
]


def _accepted_ids(spark, path):
    return sorted(
        r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()
    )


def test_store_extends_across_batches(spark, stores):
    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]
    _write(spark, BATCH2, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]
    # standing stores grew by exactly the accepted docs
    digests = spark.read.parquet(stores["store"] + "/digests")
    assert sorted(r["doc_id"] for r in digests.collect()) == [1, 11, 21]


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
    # the batch landed but never committed; replay must rewrite, not append
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11]
    bands = spark.read.parquet(stores["store"] + "/bands")
    assert bands.filter(F.col("doc_id") == 11).count() == 4  # one row per band


def test_fully_rejected_first_batch_does_not_crash(spark, stores):
    """A first micro-batch where NOTHING is admitted must complete (the
    accepted store may not even exist yet) and a later novel batch must
    still land normally."""
    _write(
        spark,
        [(30, "alpha beta alpha beta alpha")],  # near-dup of corpus doc 1
        stores["src"],
    )
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    import os

    assert not os.path.exists(stores["accepted"]) or not [
        f
        for f in os.listdir(stores["accepted"])
        if f.startswith("_batch=")
    ]
    _write(spark, [(31, "eta theta eta theta")], stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [31]


def test_first_run_without_init_corpus(spark, tmp_path):
    """With NO --init-corpus (standing stores absent), the first
    micro-batch must gate against an empty corpus instead of dying with
    PATH_NOT_FOUND inside the stream, and must create the stores so the
    next batch dedups against everything batch 0 admitted."""
    store = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    _write(spark, BATCH1, src)
    _run(spark, src, store, accepted, ckpt)
    # no standing corpus: 10 is novel now; 12 is still an exact dup of 11
    assert _accepted_ids(spark, accepted) == [10, 11]
    _write(spark, BATCH2, src)
    _run(spark, src, store, accepted, ckpt)
    # 20 near-dups batch-0-accepted 11; 21 is novel
    assert _accepted_ids(spark, accepted) == [10, 11, 21]


def test_zero_admitted_replay_clears_stale_partitions(spark, stores):
    """A replayed batch whose gate outcome changed (stream restarted
    with a stricter threshold against the same checkpoint) and now
    admits ZERO docs must drop the prior attempt's partitions -- dynamic
    overwrite with no rows touches nothing, so the zero-admitted path
    clears them explicitly."""
    from wsu_cpts_415_spark.streaming.ingest_dedup import apply_ingest_batch

    batch = spark.createDataFrame(
        [(10, "alpha beta alpha beta alpha")], SCHEMA  # jaccard 1.0 vs doc 1
    )
    # threshold above 1.0 admits everything; partitions for _batch=0 land
    apply_ingest_batch(batch, 0, stores["store"], stores["accepted"], 1.5)
    assert _accepted_ids(spark, stores["accepted"]) == [10]
    # replay batch 0 at the normal threshold: doc 10 is now rejected
    apply_ingest_batch(batch, 0, stores["store"], stores["accepted"], 0.5)
    import os

    assert not [
        f for f in os.listdir(stores["accepted"]) if f.startswith("_batch=")
    ]
    for name in ("digests", "bands", "shingles"):
        ids = [
            r["doc_id"]
            for r in spark.read.parquet(stores["store"] + "/" + name)
            .select("doc_id")
            .collect()
        ]
        # corpus doc 1 only (bands holds one row per band per doc)
        assert set(ids) == {1}, f"{name} kept stale batch rows: {ids}"


def test_one_word_document_does_not_crash_the_gate(spark, stores):
    """A single-token document has an EMPTY bigram shingle set (DuckDB
    semantics); Spark's sequence(1, 0) would count down and crash on
    element_at(toks, 0) without the size guard.  Such a doc can never
    near-dup anything, so it must be admitted, not kill the batch."""
    _write(spark, [(40, "solo"), (41, "iota kappa iota kappa")], stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"], stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [40, 41]


def test_repeated_doc_id_keeps_each_text_with_its_own_hashes(spark, stores):
    """A micro-batch that offers one ``doc_id`` with two different
    (novel, unrelated) texts admits both rows, and each row carries the
    digest and shingle hashes of its OWN text -- those rows are what the
    digest, band and shingle stores receive."""
    import hashlib

    from wsu_cpts_415_spark.streaming.ingest_dedup import _store_rows, gate_batch

    rows = [(30, "kappa lambda kappa lambda"), (30, "omicron pi rho sigma")]
    batch = spark.createDataFrame(rows, SCHEMA)
    got = gate_batch(batch, stores["store"]).collect()
    assert len(got) == 2
    assert sorted(r["text"] for r in got) == sorted(t for _, t in rows)
    for r in got:
        assert r["digest"] == hashlib.md5(r["text"].encode()).hexdigest()
    want = {r["digest"]: (r["hs"], r["h64"]) for r in _store_rows(batch).collect()}
    assert {r["digest"]: (r["hs"], r["h64"]) for r in got} == want


def test_reinit_same_corpus_is_a_read_and_preserves_batches(
    spark, stores
):
    """Gate restart: a second init over the SAME corpus must skip the
    rebuild (matching _corpus_id marker) -- crucially, the rebuild's
    plain overwrite would wipe every _batch>=0 partition the gate had
    appended, so the skip is a correctness property, not just a cost
    one."""
    import os

    _write(spark, BATCH1, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"],
         stores["ckpt"])
    assert os.path.isdir(
        os.path.join(stores["store"], "digests", "_batch=0")
    )
    corpus = spark.createDataFrame(
        [(1, "alpha beta alpha beta")], SCHEMA
    )
    init_standing_stores(spark, corpus, stores["store"])  # restart
    # appended batch partitions survived the re-init
    for sub in ("digests", "bands", "shingles"):
        assert os.path.isdir(
            os.path.join(stores["store"], sub, "_batch=0")
        ), f"{sub} lost its appended batch on re-init"
    # and the gate still dedups against them: replaying BATCH2's
    # near-dup of accepted doc 11 must still reject it
    _write(spark, BATCH2, stores["src"])
    _run(spark, stores["src"], stores["store"], stores["accepted"],
         stores["ckpt"])
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]


def test_reinit_changed_corpus_rebuilds(spark, stores):
    """A DIFFERENT corpus (fingerprint mismatch) must rebuild the base
    stores -- the marker gates on corpus identity, not store existence."""
    corpus2 = spark.createDataFrame(
        [(2, "omicron pi omicron pi")], SCHEMA
    )
    init_standing_stores(spark, corpus2, stores["store"])
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(
            f"{stores['store']}/digests"
        ).select("doc_id").collect()
    )
    assert ids == [2]


def test_gate_markers_are_per_gate(spark, tmp_path):
    """Both gates pointed at the SAME store_dir must each build their
    own stores: the dedup gate's fingerprint marker must not make the
    line gate skip its line_counts build (and vice versa)."""
    import os

    from wsu_cpts_415_spark.streaming.line_gate import init_line_store

    store = str(tmp_path / "shared_store")
    corpus = spark.createDataFrame(
        [(1, "alpha beta alpha beta")], SCHEMA
    )
    init_standing_stores(spark, corpus, store)
    init_line_store(spark, corpus, store)
    assert os.path.isdir(os.path.join(store, "line_counts")), (
        "line gate skipped its build because of the dedup gate's marker"
    )
    assert os.path.isdir(os.path.join(store, "digests"))


@pytest.mark.parametrize("gate", ["dedup", "line"])
def test_reinit_rebuilds_when_corpora_differ_only_in_duplicate_rows(
    spark, tmp_path, gate
):
    """{x, y, y} and {x, z, z} have the same row count and the same xor
    of per-row hashes (each duplicate pair cancels), so a (count, xor)
    marker built from the first would make init over the second trust
    stores of the wrong corpus.  The marker's seeded sum tells them
    apart: the second init must rebuild."""
    from wsu_cpts_415_spark.streaming.line_gate import init_line_store

    init, name, rows_of = {
        "dedup": (init_standing_stores, "digests", _digests_of),
        "line": (init_line_store, "line_counts", _line_counts_of),
    }[gate]
    x = (1, "alpha beta alpha beta")
    y = (2, "gamma delta gamma delta")
    z = (3, "omicron pi omicron pi")
    store = str(tmp_path / "store")
    init(spark, spark.createDataFrame([x, y, y], SCHEMA), store)
    second = spark.createDataFrame([x, z, z], SCHEMA)
    init(spark, second, store)
    want = rows_of(second)
    got = spark.read.parquet(f"{store}/{name}").select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_reinit_rebuilds_when_store_lost_despite_marker(spark, stores):
    """Round-11 hardening: a matching _corpus_id marker must NOT make
    init a no-op when a store subdir was deleted or lost -- the skip
    requires all three stores to be readable, else the gate would fail
    later reading the missing store."""
    import shutil

    shutil.rmtree(f"{stores['store']}/bands")
    corpus = spark.createDataFrame([(1, "alpha beta alpha beta")], SCHEMA)
    init_standing_stores(spark, corpus, stores["store"])  # must rebuild
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{stores['store']}/bands")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert ids == [1]


def test_reinit_survives_corrupt_marker(spark, stores):
    """A corrupt marker file (half-written crash artifact) must trigger
    a rebuild, not an exception out of the restart check."""
    import pathlib

    marker = pathlib.Path(stores["store"]) / "_corpus_id_dedup"
    shutil_target = next(marker.glob("*.parquet"))
    shutil_target.write_bytes(b"not a parquet file")
    corpus = spark.createDataFrame([(1, "alpha beta alpha beta")], SCHEMA)
    init_standing_stores(spark, corpus, stores["store"])  # no raise
    # rebuild re-marked: a follow-up init with intact stores skips again
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{stores['store']}/digests")
        .select("doc_id")
        .collect()
    )
    assert ids == [1]


def test_batch_job_count_guard(spark, stores):
    """One gated micro-batch runs a bounded number of Spark jobs, every
    one of them inside the caller's job group: the gate materializes
    once (no probe job, no landed re-read, no footer inference on the
    store reads) and the concurrent store writes inherit the group."""
    batch = spark.createDataFrame(BATCH1, SCHEMA)
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    n = jobs_during(
        spark,
        "ingest-batch-census",
        lambda: apply_ingest_batch(batch, 0, stores["store"], stores["accepted"]),
    )
    escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not escaped, f"jobs outside the caller's job group: {sorted(escaped)}"
    assert _accepted_ids(spark, stores["accepted"]) == [11]
    assert n <= JOB_BOUND, f"{n} jobs for one micro-batch"


def test_stream_scans_each_batch_once(spark, stores):
    """The gate, its materialization and every store write read the
    micro-batch from ONE scan: the stream's numInputRows per batch is
    exactly the rows offered in it (a second scan would double it)."""
    _write(spark, BATCH1, stores["src"])
    _write(spark, BATCH2, stores["src"])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stores["src"])
    )
    q = stream_ingest_with_dedup(
        stream, stores["store"], stores["accepted"], stores["ckpt"]
    )
    assert [p.numInputRows for p in q.recentProgress] == [len(BATCH1), len(BATCH2)]
    assert _accepted_ids(spark, stores["accepted"]) == [11, 21]


def test_empty_batch_writes_nothing_and_drops_stale_partitions(spark, stores):
    """A degenerate (empty) micro-batch admits nothing and writes no
    partition; a stale ``_batch=<id>`` partition an earlier attempt of
    the same batch left in any store is dropped."""
    import os

    empty = spark.createDataFrame([], SCHEMA)
    assert apply_ingest_batch(empty, 0, stores["store"], stores["accepted"]) == 0
    assert not os.path.exists(stores["accepted"])
    # an earlier attempt of batch 1 landed doc 11 everywhere
    batch = spark.createDataFrame(BATCH1, SCHEMA)
    assert apply_ingest_batch(batch, 1, stores["store"], stores["accepted"]) == 1
    assert apply_ingest_batch(empty, 1, stores["store"], stores["accepted"]) == 0
    for base in (
        stores["accepted"],
        *(f"{stores['store']}/{name}" for name in ("digests", "bands", "shingles")),
    ):
        assert [f for f in os.listdir(base) if f.startswith("_batch=")] == (
            [] if base == stores["accepted"] else ["_batch=-1"]
        ), base


def _init_for(gate):
    from wsu_cpts_415_spark.streaming.line_gate import init_line_store

    return {"dedup": init_standing_stores, "line": init_line_store}[gate]


def _grouped_jobs(spark, group, fn):
    """(jobs ``fn()`` runs in job group ``group``, jobs it runs outside
    any group)."""
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    n = jobs_during(spark, group, fn)
    return n, set(tracker.getJobIdsForGroup(None)) - ungrouped


# Spark jobs one init may run, on 4 cores: a cold build is the corpus
# checkpoint (which also observes the fingerprint; one job per AQE query
# stage), one write per store and the marker write; a restart is the
# marker read and the fingerprint aggregate (the stores' presence is a
# FileSystem check, no job).  The fingerprint job, createDataFrame
# marker and schema-inferring marker read made a cold build 6 (dedup)
# and 6 (line) jobs and a restart 7 and 5; one footer read per store
# made a restart 6 and 4.
INIT_JOB_BOUND = {"dedup": 5, "line": 6}
RESTART_JOB_BOUND = {"dedup": 3, "line": 3}

INIT_CORPUS = [
    (1, "alpha beta alpha beta"),
    (2, "gamma delta gamma delta epsilon"),
    (3, "gamma delta gamma delta epsilon"),
    (4, "solo"),
]


@pytest.mark.parametrize("gate", ["dedup", "line"])
def test_init_job_count_guard(spark, tmp_path, gate, monkeypatch):
    """A cold build over a fresh ``store_dir`` runs a bounded number of
    jobs, all in the caller's job group, and builds no frame from Python
    rows (that forks a Python worker for the one-row marker)."""
    from pyspark.sql import SparkSession

    corpus = spark.createDataFrame(INIT_CORPUS, SCHEMA)

    def refuse(*_a, **_k):
        raise AssertionError("init built a DataFrame from Python rows")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    n, escaped = _grouped_jobs(
        spark,
        f"init-census-{gate}",
        lambda: _init_for(gate)(spark, corpus, str(tmp_path / "store")),
    )
    assert not escaped, f"jobs outside the caller's job group: {sorted(escaped)}"
    assert n <= INIT_JOB_BOUND[gate], f"{n} jobs for a cold {gate} init"


def _stamps(store):
    import os

    return {d: os.stat(os.path.join(store, d)).st_mtime_ns for d in os.listdir(store)}


@pytest.mark.parametrize("gate", ["dedup", "line"])
def test_restart_job_count_guard(spark, tmp_path, gate):
    """A restart over the same corpus and intact stores is a read: the
    marker read (pinned schema), the stores' presence checks and the
    fingerprint, within a bounded number of jobs, all in the caller's
    job group."""
    corpus = spark.createDataFrame(INIT_CORPUS, SCHEMA)
    store = str(tmp_path / "store")
    init = _init_for(gate)
    init(spark, corpus, store)
    stamp = _stamps(store)
    n, escaped = _grouped_jobs(
        spark, f"restart-census-{gate}", lambda: init(spark, corpus, store)
    )
    assert not escaped, f"jobs outside the caller's job group: {sorted(escaped)}"
    assert n <= RESTART_JOB_BOUND[gate], f"{n} jobs for a {gate} restart"
    assert _stamps(store) == stamp, "the restart rewrote a store or the marker"


@pytest.mark.parametrize("gate", ["dedup", "line"])
def test_restart_over_an_empty_corpus_is_a_read(spark, tmp_path, gate):
    """Stores built from an empty corpus hold no parquet file, yet a
    restart over the same (empty) corpus still reads them instead of
    rebuilding."""
    corpus = spark.createDataFrame([], SCHEMA)
    store = str(tmp_path / "store")
    init = _init_for(gate)
    init(spark, corpus, store)
    stamp = _stamps(store)
    init(spark, corpus, store)
    assert _stamps(store) == stamp, "the restart rewrote a store or the marker"


def test_restart_rebuilds_a_store_without_its_success_file(spark, stores):
    """A store whose write never completed (no ``_SUCCESS`` file) is
    rebuilt on restart even though its marker matches the corpus."""
    import os

    os.remove(f"{stores['store']}/bands/_SUCCESS")
    corpus = spark.createDataFrame([(1, "alpha beta alpha beta")], SCHEMA)
    init_standing_stores(spark, corpus, stores["store"])
    assert os.path.exists(f"{stores['store']}/bands/_SUCCESS")


@pytest.mark.parametrize(
    "rows",
    [
        [(1, "alpha beta alpha beta")],
        [
            (1, "alpha beta alpha beta"),
            (2, "gamma delta gamma delta"),
            (2, "gamma delta gamma delta"),
        ],
        [],
    ],
    ids=["one-doc", "x-y-y", "empty"],
)
@pytest.mark.parametrize("gate", ["dedup", "line"])
def test_init_stores_equal_their_direct_derivations(spark, tmp_path, gate, rows):
    """Every store a build writes holds exactly its direct derivation
    from the corpus, all of it in the ``_batch=-1`` partition; the
    marker is the corpus's ``content_fingerprint``; and the build's
    materialization is released before init returns."""
    import os

    from wsu_cpts_415_spark.ops.staging import content_fingerprint
    from wsu_cpts_415_spark.streaming.ingest_dedup import _read_store
    from wsu_cpts_415_spark.streaming.line_gate import LINE_COUNTS_SCHEMA

    corpus = spark.createDataFrame(rows, SCHEMA)
    store = str(tmp_path / "store")
    derivations = {
        "dedup": {"digests": _digests_of, "bands": bands_of, "shingles": _h64_of},
        "line": {"line_counts": _line_counts_of},
    }[gate]
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    _init_for(gate)(spark, corpus, store)
    assert jsc.getPersistentRDDs().size() == persisted, "init left blocks cached"
    schemas = {**STORE_SCHEMAS, "line_counts": LINE_COUNTS_SCHEMA}
    for name, derive in derivations.items():
        want = derive(corpus)
        got = _read_store(spark, f"{store}/{name}", schemas[name])
        assert got.dtypes == want.dtypes, name
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), name
        parts = [f for f in os.listdir(f"{store}/{name}") if f.startswith("_batch=")]
        assert parts == ([] if not rows else ["_batch=-1"]), name
    (marker,) = spark.read.parquet(f"{store}/_corpus_id_{gate}").collect()
    fp = content_fingerprint(corpus, ["doc_id", "text"])
    assert tuple(marker) == fp
    if not rows:
        assert fp == (0, 0, 0)


def test_gate_stores_match_the_registry_layers(spark, tmp_path):
    """Over the smoke corpus, the stores a gate builds hold the rows of
    the registry layers its batch face gates against: the bands of
    ``_bands_staged``, the compact shingle hashes of ``_h64_staged``,
    the shared digest of ``documents``, and the line counts over
    ``_line_segments_staged``."""
    from wsu_cpts_415_spark.io.tables import load_table
    from wsu_cpts_415_spark.queries.llm_filters import _line_segments_staged
    from wsu_cpts_415_spark.queries.similarity import (
        _bands_staged,
        _h64_staged,
        text_digest,
    )
    from wsu_cpts_415_spark.streaming.line_gate import init_line_store

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    init_standing_stores(spark, docs, store)
    init_line_store(spark, docs, store)
    layers = {
        "digests": docs.select("doc_id", text_digest()),
        "bands": _bands_staged(spark, SF_SMOKE),
        "shingles": _h64_staged(spark, SF_SMOKE),
        "line_counts": doc_line_counts(_line_segments_staged(spark, SF_SMOKE)),
    }
    for name, want in layers.items():
        got = spark.read.parquet(f"{store}/{name}").select(*want.columns)
        want_rows = sorted(map(tuple, want.collect()))
        assert want_rows, name
        assert sorted(map(tuple, got.collect())) == want_rows, name


def test_first_run_reads_no_missing_path(spark, tmp_path, monkeypatch):
    """A cold init and a first micro-batch of either gate with no store
    check a path before reading it: a parquet read of a missing path
    fails only after Spark has logged a FileNotFoundException stack
    trace.  The marker of a cold init, and every store of a first
    micro-batch, is missing."""
    import os

    from pyspark.sql import DataFrameReader

    from wsu_cpts_415_spark.streaming.ingest_dedup import gate_batch
    from wsu_cpts_415_spark.streaming.line_gate import gate_line_batch

    missing = []
    parquet = DataFrameReader.parquet

    def checked(self, *paths, **options):
        missing.extend(p for p in paths if not os.path.exists(p))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", checked)
    store = str(tmp_path / "store")
    init_standing_stores(spark, spark.createDataFrame(INIT_CORPUS, SCHEMA), store)
    batch = spark.createDataFrame(BATCH1, SCHEMA)
    assert gate_batch(batch, str(tmp_path / "fresh")).count() == 2
    assert gate_line_batch(batch, store).count() == 1  # 11 and 12 share a line
    assert missing == []


def test_all_duplicate_batch_admits_nothing_and_writes_no_partition(
    spark, tmp_path
):
    """Degenerate input: every text of the micro-batch is already in the
    corpus (one of them twice).  The batch admits nothing, and no store
    -- the accepted store or any standing store -- gains a
    ``_batch=<id>`` partition."""
    import os

    store, accepted = str(tmp_path / "store"), str(tmp_path / "accepted")
    init_standing_stores(spark, spark.createDataFrame(INIT_CORPUS, SCHEMA), store)
    batch = spark.createDataFrame(
        [(10 + i, text) for i, (_, text) in enumerate(INIT_CORPUS + INIT_CORPUS[:1])],
        SCHEMA,
    )
    assert apply_ingest_batch(batch, 0, store, accepted) == 0
    assert not os.path.exists(accepted)
    for name in STORE_SCHEMAS:
        parts = [f for f in os.listdir(f"{store}/{name}") if f.startswith("_batch=")]
        assert parts == ["_batch=-1"], name
