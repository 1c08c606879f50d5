"""Session-scoped staging: one memo behind every staged layer, model and
gate.

Sketch pipelines share expensive staged projections: the shingle+md5
base-hash table feeds both ``minhash_signatures`` and both sides of the
``minhash_lsh_pairs`` self-join; the SimHash fingerprint table feeds
``simhash_fingerprints`` and both sides of ``simhash_hamming_pairs``.
Without materialization Spark recomputes the whole subtree per alias of a
self-join and per query -- the md5/shingle math is the dominant cost of
every sketch query (BENCH r1: the three sketch queries were 5.5 s of a
24 s suite).

Every entry point keeps its value in ``_memo``, one dict keyed by
(session token, kind, name, sf_dir):

* ``staged`` -- a projection persisted MEMORY_AND_DISK (spill-safe);
* ``staged_table`` -- ``staged`` over a parquet layer that is written
  once per corpus fingerprint and read by every later session;
* ``staged_model`` -- a driver-side value (codebook, centroids, stats);
* ``maybe_broadcast(stats_key=...)`` -- a gate's measured (rows, bytes).

Keying by the session token means a restarted session never sees
another session's DataFrames.  This is the local-mode analogue of
writing a staged table once and reading it from several jobs -- exactly
what a 100 TB pipeline does with its staged parquet layers (the cache
holds the compacted sketch columns, never raw text payloads beyond the
shingle arrays).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession


def _ctx_token(sc) -> str:
    """Stable per-SparkContext cache-key token (r13, ADVICE closure):
    ``id(sc)`` can be REUSED by CPython after a stopped context is
    garbage-collected, letting a new context in the same process read a
    dead context's memo entries (stale gate stats / models / broadcast
    decisions).  applicationId + startTime is unique per application and
    cached on the instance so the py4j round-trip happens once."""
    tok = getattr(sc, "_graft_staging_token", None)
    if tok is None:
        tok = f"{sc.applicationId}@{sc.startTime}"
        sc._graft_staging_token = tok
    return tok


_MEMO: dict[tuple, object] = {}
_BUILD_LOG: dict[str, float] = {}


def _memo(
    spark: SparkSession,
    kind: str,
    name: str,
    sf_dir: str,
    build: Callable[[], object],
) -> object:
    """Return the value memoized for (session, kind, name, sf_dir),
    calling ``build`` on first use and logging how long it took.  The
    lazy ``staged`` persists are not logged: their cost lands in the
    first consumer's job."""
    key = (_ctx_token(spark.sparkContext), kind, name, sf_dir)
    if key not in _MEMO:
        t0 = time.perf_counter()
        _MEMO[key] = build()
        if kind != "staged":
            tag = f"{kind}:{name}@{sf_dir}"
            sec = time.perf_counter() - t0
            _BUILD_LOG[tag] = round(_BUILD_LOG.get(tag, 0.0) + sec, 3)
    return _MEMO[key]


def staging_build_log() -> dict[str, float]:
    """Snapshot of cumulative eager build seconds per
    ``kind:name@sf_dir`` entry: parquet layer publishes, trained models,
    memoized gate stats and corpus fingerprints.  Never cleared by
    ``clear_staged`` -- it is an invocation-lifetime cost log, not a
    cache, so an entry rebuilt after a clear adds its rebuild time to
    the same key."""
    return dict(_BUILD_LOG)


def staged(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the persisted DataFrame registered under ``name`` for this
    session + dataset, building (and persisting) it on first use."""
    return _memo(
        spark,
        "staged",
        name,
        sf_dir,
        lambda: build().persist(StorageLevel.MEMORY_AND_DISK),
    )


def staged_model(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], object],
) -> object:
    """Driver-side analogue of ``staged`` for MODEL-SIZED Python values
    (trained codebooks, centroid lists, sketch parameters): memoized per
    (session, name, dataset).  The cluster equivalent is a persisted
    model table written once by the training job and read by every
    consumer -- training is deterministic here, so the memo changes
    latency, never results."""
    return _memo(spark, "model", name, sf_dir, build)


MAYBE_BCAST_MAX_BYTES = 512 << 20  # hinted-broadcast ceiling, estimated


def maybe_broadcast(
    df: DataFrame,
    bound: int,
    max_bytes: int = MAYBE_BCAST_MAX_BYTES,
    persist_input: bool = False,
    stats_key: tuple | None = None,
) -> DataFrame:
    """Broadcast a doc-grain side table only below ``bound`` rows AND
    below ``max_bytes`` estimated serialized size (one cheap aggregate
    action, typically riding an already-persisted staged frame); above
    either bound the consuming join falls back to a shuffle join -- at
    100 TB scale a bucketed layout co-locates these joins instead of
    broadcasting.  Shared by the SSJoin filter/verify joins and the ER
    scorer's per-candidate signal attach.

    The byte bound exists because a row bound alone under-constrains
    VARIABLE-WIDTH tables: the compact shingle-hash side carries ~|doc|
    8-byte hashes per row, so a corpus of long documents near the row
    bound would otherwise force a multi-GB ``F.broadcast`` (the hint
    bypasses ``spark.sql.autoBroadcastJoinThreshold``) and risk
    executor/driver OOM.  Estimation is schema-driven per row:
    fixed-width arrays at 8 bytes per element, string/binary arrays at
    their aggregate content length (+16/element overhead),
    strings/binary at their length, everything else a flat 8 --
    measured in the same single aggregate as the row count, so the
    check adds no extra action.

    ``persist_input`` is for call sites whose input is an UN-persisted
    subtree (a windowed aggregate, a degree rollup): without it the
    subtree evaluates twice -- once for the gate stats, once in the
    consuming join.  When set, a frame whose plan is not cached yet is
    persisted (and registered with the session release path) BEFORE
    the gate action, so the stats scan materializes the cache the join
    then reads.  Spark's cache is keyed by analyzed plan, so a repeat
    call over the same plan finds it cached and adds no second persist.
    Sites riding already-staged frames leave it off.

    ``stats_key`` = (site name, dataset dir) (r12) memoizes the measured
    (rows, bytes) PER SESSION for call sites whose input is a pure
    function of the dataset dir + code constants -- the same
    immutability contract the staged-layer memo rides.  The gate
    decision for such a frame cannot change within a session, so later
    calls skip the gate's aggregate action.  Only the two scalars are
    memoized; the caller's own frame is always the one returned."""
    from pyspark.sql import functions as F

    if persist_input and df.storageLevel == StorageLevel.NONE:
        df = track_persist(df.persist(StorageLevel.MEMORY_AND_DISK))
    if stats_key is None:
        n_rows, n_bytes = _gate_stats(df)
    else:
        site, sf_dir = stats_key
        n_rows, n_bytes = _memo(
            df.sparkSession, "gate", site, sf_dir, lambda: _gate_stats(df)
        )
    small = n_rows <= bound and n_bytes <= max_bytes
    return F.broadcast(df) if small else df


def _gate_stats(df: DataFrame) -> tuple[int, int]:
    """(rows, estimated serialized bytes) of ``df`` in one aggregate."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    per_row = F.lit(16)
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, T.ArrayType):
            elem = field.dataType.elementType
            if isinstance(elem, T.StringType):
                # variable-width elements: charge aggregate content
                # length + per-element overhead -- a flat 8/element
                # would underestimate a string-array column ~3x and
                # let a hinted broadcast through the OOM guard.
                # array_join + length stays inside whole-stage codegen
                # (ArrayAggregate is CodegenFallback -- an interpreted
                # per-row fold would tax every maybe_broadcast check);
                # null elements are skipped by array_join, matching the
                # coalesce(length(x), 0) the fold form charged them
                per_row = (
                    per_row
                    + 16
                    + 16 * F.greatest(F.size(c), F.lit(0))
                    + F.coalesce(F.length(F.array_join(c, "")), F.lit(0))
                )
            elif isinstance(elem, T.BinaryType):
                # no current caller ships binary arrays; array_join
                # can't take them, so keep the (interpreted) fold on
                # this cold path rather than lose the byte guard
                per_row = (
                    per_row
                    + 16
                    + 16 * F.greatest(F.size(c), F.lit(0))
                    + F.coalesce(
                        F.aggregate(
                            c,
                            F.lit(0),
                            lambda acc, x: acc
                            + F.coalesce(F.length(x), F.lit(0)),
                        ),
                        F.lit(0),
                    )
                )
            else:
                # fixed-width elements (nested arrays/structs don't
                # flow through any current caller; they'd land here
                # at 8/element -- extend if one ever does)
                per_row = per_row + 16 + 8 * F.greatest(F.size(c), F.lit(0))
        elif isinstance(field.dataType, (T.StringType, T.BinaryType)):
            per_row = per_row + 16 + F.coalesce(F.length(c), F.lit(0))
        else:
            per_row = per_row + 8
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(per_row.cast("bigint")), F.lit(0)).alias("b"),
    ).collect()[0]
    return int(stats["n"]), int(stats["b"])


STAGING_ROOT_ENV = "SPARK_GRAFT_STAGING_DIR"

# Bump whenever the BUILD LOGIC of any durably staged layer changes in a
# way its output depends on (shingle scheme, hash family, rank key, ...).
# The version is folded into every staged path's fingerprint digest, so a
# staging root that persists across code revisions can never serve
# parquet built by older logic.  Per-layer constants (band counts, edit
# bounds, ...) ride the `salt` argument of staged_table instead, so
# tuning one layer re-keys only that layer.
STAGING_FORMAT_VERSION = 2

# Retention: newest N fingerprint directories kept per (dataset, layer);
# older ones are GC'd at publish time.  N=2 keeps the previous corpus
# snapshot warm across an A/B re-ingest while bounding disk on an
# evolving corpus (the standing-store streaming scenario).
STAGING_KEEP_LATEST = 2


_EPHEMERAL_ROOT: list[str] = []


def _ephemeral_root() -> str:
    """Per-INVOCATION staging root: a fresh 0700 mkdtemp, removed at
    process exit.  The default when no root is pinned -- so every
    bench/oracle/conformance invocation rebuilds every staged layer from
    the parquet inputs (no cross-run precomputation), while keeping the
    write-once/read-many layer semantics WITHIN the invocation.  Memoized
    per process so all layers of one run share one root."""
    import atexit
    import tempfile

    if not _EPHEMERAL_ROOT:
        d = tempfile.mkdtemp(
            prefix=f"spark_graft_staging_eph_u{os.getuid()}_"
        )
        atexit.register(lambda: shutil.rmtree(d, ignore_errors=True))
        _EPHEMERAL_ROOT.append(d)
    return _EPHEMERAL_ROOT[0]


def _staging_root() -> str | None:
    """Resolve and vet the staging root.

    Default is INVOCATION-EPHEMERAL (``_ephemeral_root``): staged layers
    are computed from the parquet inputs on every invocation and shared
    only within it.  Cross-session durability -- the 100 TB pattern of a
    warehouse staging path read by later sessions -- is OPT-IN via
    ``SPARK_GRAFT_STAGING_DIR`` (how a real deployment drives it); a
    pinned root is only trusted when it is OWNED
    by this uid and not writable by others (a world-shared path would
    let another local user plant parquet that staged_table reads --
    cache poisoning -- or squat the root to disable durability).  Any
    mismatch returns None and the caller degrades to session staging
    (never to an error, never to reading an untrusted tree)."""
    import stat

    root = os.environ.get(STAGING_ROOT_ENV) or _ephemeral_root()
    try:
        if not os.path.lexists(root):
            os.makedirs(root, mode=0o700, exist_ok=True)
            os.chmod(root, 0o700)  # makedirs mode is umask-filtered
        st = os.lstat(root)
        if (
            not stat.S_ISDIR(st.st_mode)
            or st.st_uid != os.getuid()
            or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
        ):
            return None
    except OSError:
        return None
    return root


def _docs_stat(sf_dir: str):
    """(n_files, total_bytes, max_mtime_ns) of the documents parquet
    (single file or Spark part-file directory), or None when
    unreadable.  The filesystem proxy behind the fingerprint sidecar:
    parquet layouts are written whole, so identical stats mean the
    bytes are the ones a prior session already hashed."""
    p = os.path.join(sf_dir, "documents.parquet")
    try:
        if os.path.isfile(p):
            st = os.stat(p)
            return [1, st.st_size, st.st_mtime_ns]
        n = b = m = 0
        for base, _, files in os.walk(p):
            for f in files:
                st = os.stat(os.path.join(base, f))
                n += 1
                b += st.st_size
                m = max(m, st.st_mtime_ns)
        return [n, b, m] if n else None
    except OSError:
        return None


def fingerprint_aggs(cols: list[str]) -> list[Column]:
    """The three aggregates of ``content_fingerprint`` over ``cols``,
    named as the streaming gates' marker columns (``n_docs``,
    ``xor_hash``, ``sum_hash``): their one definition, shared by the
    collected fingerprint and by an ``Observation`` of it on a scan that
    also does other work."""
    from pyspark.sql import functions as F

    c = ", ".join(cols)
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"bit_xor(xxhash64({c}))").alias("xor_hash"),
        F.expr(f"sum(cast(xxhash64('fp2', {c}) as decimal(38,0)))").alias(
            "sum_hash"
        ),
    ]


def fingerprint_of(row) -> tuple[int, int, int]:
    """The ``content_fingerprint`` tuple from a row (or an observed
    metrics dict) of ``fingerprint_aggs``; an empty input's NULL xor and
    sum read as 0."""
    return (
        int(row["n_docs"]),
        int(row["xor_hash"] or 0),
        int(row["sum_hash"] or 0),
    )


def content_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int, int]:
    """(row count, xor, seeded sum) of per-row hashes of ``cols``: an
    order-insensitive content identity in one aggregate job.  Two
    independent 64-bit aggregates because xor alone cancels on
    duplicate-row pairs ({x, y, y} and {x, z, z} xor alike) and aliases
    on a single non-crypto collision; the decimal SUM of a
    differently-seeded hash makes accidental aliasing negligible (a pair
    of inputs must collide in BOTH linear forms).  The staging layers
    and the streaming gates' restart markers both key on it."""
    return fingerprint_of(df.agg(*fingerprint_aggs(cols)).collect()[0])


def _corpus_fp(spark: SparkSession, sf_dir: str):
    """``content_fingerprint`` of the documents table over EVERY column
    (doc_id, text, lang, source, n_chars -- the streaming gates' (doc_id,
    text) form would alias fixtures that differ only in metadata
    columns).  Memoized per session; None when the table is unreadable
    (caller falls back to session staging).

    The content scan itself is also memoized DURABLY: a sidecar in the
    (ownership-vetted) staging root keys the fingerprint by the parquet
    layout's (file count, total bytes, max mtime_ns), so a restarted
    session over an unchanged corpus skips the full-corpus hash scan --
    at x100 that scan alone was multiple seconds of every session's
    first staged read.  Any stat change (parquet layouts are written
    whole) falls back to the real scan and rewrites the sidecar
    atomically."""
    def build():
        root = _staging_root()
        stat = _docs_stat(sf_dir)
        sidecar = None
        if root is not None and stat is not None:
            slug = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
            sidecar = f"{root}/{slug}/corpus_fp_v{STAGING_FORMAT_VERSION}.json"
            try:
                with open(sidecar) as f:
                    rec = json.load(f)
                if rec.get("stat") == stat:
                    return tuple(rec["fp"])
            except (OSError, ValueError, KeyError, TypeError):
                pass
        try:
            from wsu_cpts_415_spark.io.tables import load_table

            fp = content_fingerprint(
                load_table(spark, sf_dir, "documents"),
                ["doc_id", "text", "lang", "source", "n_chars"],
            )
        except Exception:
            return None
        if sidecar is not None:
            try:
                os.makedirs(os.path.dirname(sidecar), exist_ok=True)
                tmp = f"{sidecar}.tmp-{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump({"stat": stat, "fp": list(fp)}, f)
                os.replace(tmp, sidecar)
            except OSError:
                pass
        return fp

    return _memo(spark, "corpus_fp", "documents", sf_dir, build)


def _gc_staged(layer_dir: str, protect: str) -> None:
    """Keep-latest-N retention for one (dataset, layer) directory: every
    ``fp=*`` sibling beyond the STAGING_KEEP_LATEST most-recently-used
    (and beyond ``protect``, the fingerprint just published or read) is
    removed ATOMICALLY -- renamed to a ``.trash-`` name first, so a
    concurrent reader either sees the complete directory or none of it,
    then deleted.  Leftover ``.trash-`` and stale ``.tmp-`` dirs from
    crashed sessions are swept on the same pass.  Best-effort
    throughout: GC failure must never fail a query."""
    try:
        entries = os.listdir(layer_dir)
    except OSError:
        return
    fps = []
    for e in entries:
        full = os.path.join(layer_dir, e)
        if ".trash-" in e:
            shutil.rmtree(full, ignore_errors=True)
            continue
        if ".tmp-" in e:
            try:  # orphaned publish attempt: sweep after an hour
                if time.time() - os.path.getmtime(full) > 3600:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
            continue
        if e.startswith("fp="):
            try:
                fps.append((os.path.getmtime(full), full))
            except OSError:
                pass
    fps.sort(reverse=True)
    for _, full in fps[STAGING_KEEP_LATEST:]:
        if os.path.basename(full) == os.path.basename(protect):
            continue
        trash = f"{full}.trash-{os.getpid()}"
        try:
            os.rename(full, trash)
        except OSError:
            continue  # concurrent GC won the rename; theirs to delete
        shutil.rmtree(trash, ignore_errors=True)


def staging_audit(root: str | None = None) -> list[dict]:
    """Inventory of the durable staging root: one record per (dataset
    slug, layer) with fingerprint-directory count, total bytes, and file
    count -- the observability surface for the retention policy (a
    keep-latest-N bug shows up here as fp_dirs > STAGING_KEEP_LATEST or
    monotone byte growth).  Exposed as the ``staging-audit`` CLI
    subcommand."""
    if root is None:
        root = _staging_root()
    out: list[dict] = []
    if root is None or not os.path.isdir(root):
        return out
    for slug in sorted(os.listdir(root)):
        slug_dir = os.path.join(root, slug)
        if not os.path.isdir(slug_dir):
            continue
        for layer in sorted(os.listdir(slug_dir)):
            layer_dir = os.path.join(slug_dir, layer)
            if not os.path.isdir(layer_dir):
                continue
            n_fp = n_files = n_bytes = 0
            for fp in os.listdir(layer_dir):
                fp_dir = os.path.join(layer_dir, fp)
                if not (fp.startswith("fp=") and os.path.isdir(fp_dir)):
                    continue
                n_fp += 1
                for base, _, files in os.walk(fp_dir):
                    for f in files:
                        n_files += 1
                        try:
                            n_bytes += os.path.getsize(
                                os.path.join(base, f)
                            )
                        except OSError:
                            pass
            out.append(
                {
                    "dataset": slug,
                    "layer": layer,
                    "fp_dirs": n_fp,
                    "files": n_files,
                    "bytes": n_bytes,
                }
            )
    return out


def staged_table(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
    salt: str = "",
    expect_cols: list[str] | None = None,
) -> DataFrame:
    """Durable twin of ``staged``: the built projection is written ONCE
    as parquet keyed by (dataset dir, corpus fingerprint, build salt)
    and every later session -- including a restarted one -- READS it
    instead of re-running the build.  This is the cluster pattern of a
    persisted staged layer (write-once, read-by-every-job) brought to
    the heavy per-session rebuilds the x100 ER probe priced at 206.9 s
    cold vs 7.3 s warm: the shingle/lev/SNM projections are pure
    functions of the documents table, so the fingerprint makes the disk
    copy safe to trust across sessions and a changed corpus simply keys
    a new path.

    ``salt`` carries the BUILD CONSTANTS the layer's content depends on
    (band counts, edit bounds, rank-key shape): the staging root
    outlives code revisions, so without the salt a constant tuned
    between sessions would silently serve parquet built by the old
    logic.  STAGING_FORMAT_VERSION is folded in globally for the same
    reason.  ``expect_cols``, when given, vets a read table's schema
    before trusting it; a mismatch discards the directory and rebuilds.

    Concurrency: the build lands in a session-unique temp dir and is
    renamed into place (atomic on one filesystem); losing a rename race
    means another session published the identical content -- read
    theirs.  Each publish also runs keep-latest-N retention over the
    layer's other fingerprints (see ``_gc_staged``).  Any failure
    (unwritable/untrusted root, fingerprint scan error) degrades to
    plain session staging, never to an error.  The returned frame is
    ALSO session-persisted so in-session consumers keep the
    memoized-DataFrame semantics of ``staged``; both sessions' frames
    are parquet round-trips of the same write, so a restarted session
    sees byte-identical values."""

    def read_or_publish() -> DataFrame:
        fp = _corpus_fp(spark, sf_dir)
        root = _staging_root()
        if fp is None or root is None:
            return build()
        slug = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        digest = hashlib.md5(
            f"v{STAGING_FORMAT_VERSION}|{salt}|{fp[1]}|{fp[2]}".encode()
        ).hexdigest()[:16]
        layer_dir = f"{root}/{slug}/{name}"
        path = f"{layer_dir}/fp={fp[0]}_{digest}"
        if os.path.exists(f"{path}/_SUCCESS"):
            try:
                out = spark.read.parquet(path)
                if expect_cols is None or set(expect_cols) <= set(out.columns):
                    os.utime(path)  # bump LRU recency for retention
                    return out
                # stale shape: discard and rebuild below
                os.rename(path, f"{path}.trash-{os.getpid()}")
            except Exception:
                pass
        tmp = f"{path}.tmp-{os.getpid()}"

        def publish() -> str:
            build().write.mode("overwrite").parquet(tmp)
            os.makedirs(layer_dir, exist_ok=True)
            try:
                os.rename(tmp, path)
            except OSError:
                # lost the publish race: identical content already there
                shutil.rmtree(tmp, ignore_errors=True)
            return path

        try:
            out = spark.read.parquet(
                _memo(spark, "layer", name, sf_dir, publish)
            )
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            return build()
        _gc_staged(layer_dir, protect=path)
        return out

    return staged(spark, name, sf_dir, read_or_publish)


_TRACKED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """Register an externally-persisted DataFrame (e.g. the trending
    scored layer) with the session release path so clear_staged() can
    unpersist it -- keeps total cached storage bounded over long runs
    (the 259-query conformance sweep asserts this)."""
    _TRACKED.append(df)
    return df


def clear_staged() -> None:
    """Unpersist and drop every memo entry (tests; memory pressure)."""
    frames = [v for v in _MEMO.values() if isinstance(v, DataFrame)]
    for df in frames + _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass
    _MEMO.clear()
    _TRACKED.clear()
