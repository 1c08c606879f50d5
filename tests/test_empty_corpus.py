"""Empty-slice totality: every registered query must return a (possibly
empty) DataFrame on a corpus with ZERO rows in every table -- the edge a
100 TB pipeline hits whenever a filtered slice (a language, a day, a
tenant) is empty.  The round-10 sweep found 9 of 319 queries crashing
here (interpreted argmin over zero centroids, NULL approx_percentile
bounds, next() on an empty model, numpy eigh on a NULL covariance, a
JVM bloomFilter rejection, topk[-1] on an empty list, 1/0 state count);
all are now guarded to return empty results with their normal schema.

The nine former crashers are pinned individually; a deterministic
every-16th sample of the rest keeps registry-wide coverage in the suite
without the full sweep's ~9 minute bill (the full sweep lives in the
round artifacts: 310/319 passed before the fixes, 319/319 after).

Not raising is not enough for the queries written as their oracle SQL
(TPC-H aside): over zero-row tables each must also equal its DuckDB
oracle (an empty aggregate's 0 or NULL is part of the answer)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, sql_bodied
from wsu_cpts_415_spark.io.tables import load_table
from wsu_cpts_415_spark.ops.conformance import compare, duck_connect
from wsu_cpts_415_spark.registry import all_queries

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

FORMER_CRASHERS = [
    "bloom_membership_audit",
    "kmeans_lloyd",
    "ks_test_two_sample",
    "mannwhitney_u_test",
    "markov_stationary_dist",
    "pca_projection_check",
    "percent_rank_scalable",
    "pq_ann_adc_topk",
    "semdedup_prune",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_corpus")
    for t in TABLES:
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


def _sampled_names() -> list[str]:
    names = sorted(all_queries())
    sample = names[::16]  # deterministic registry-wide sample
    return sorted(set(FORMER_CRASHERS) | set(sample))


@pytest.mark.parametrize("name", _sampled_names())
def test_query_is_total_on_empty_corpus(spark, empty_dir, name):
    from wsu_cpts_415_spark.ops.staging import clear_staged

    clear_staged()  # session memos keyed by sf_dir; cheap insurance
    n = all_queries()[name].fn(spark, empty_dir).count()
    assert n >= 0  # the assertion is "did not raise"


@pytest.fixture(scope="module")
def empty_files_dir(tmp_path_factory):
    """Zero-row fixture tables, each one parquet FILE with the fixture's
    schema (pyarrow): DuckDB's ``read_parquet`` reads a file, not Spark's
    directory layout, so both engines can run over these."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("empty_files")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_SMOKE}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


def _sql_bodied_names() -> list:
    """The queries outside TPC-H whose Spark body is their oracle SQL;
    Spark's grouping-set aggregates return no grand-total row over an
    empty input, where DuckDB returns one."""
    no_total = pytest.mark.xfail(
        strict=True,
        reason="Spark returns 0 rows for a grouping set () over an empty "
        "table (SQL and DataFrame alike); DuckDB returns the grand total",
    )
    names = sorted(
        n for n, q in all_queries().items()
        if sql_bodied(q.fn) and not q.fn.__module__.endswith(".tpch")
    )
    assert len(names) == 74
    return [
        pytest.param(n, marks=no_total)
        if n in ("rollup_agg", "cube_agg", "grouping_sets_agg") else n
        for n in names
    ]


@pytest.mark.parametrize("name", _sql_bodied_names())
def test_sql_query_matches_its_oracle_on_empty_tables(spark, empty_files_dir, name):
    """Over zero-row tables each query still equals its
    oracle -- an aggregate over nothing is 0 or NULL exactly where
    DuckDB says so."""
    q = all_queries()[name]
    compare(q.fn(spark, empty_files_dir), duck_connect(empty_files_dir), q.oracle)


@pytest.fixture(scope="module")
def degen_docs_dir(spark, tmp_path_factory):
    """sf0.001 tables with the documents table augmented by degenerate
    rows (empty text, one token, two tokens): the short-document edge
    that crashed four bigram pipelines in round 10 (descending
    sequence(1, 0) / element_at out of range under ANSI)."""
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("degen_docs")
    for t in TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", t)
        if t == "documents":
            mx = df.agg(F.max("doc_id")).first()[0]
            extra = spark.createDataFrame(
                [
                    (mx + 1, "", "en", "web", 0),
                    (mx + 2, "solo", "en", "web", 4),
                    (mx + 3, "two words", "en", "web", 9),
                ],
                "doc_id long, text string, lang string, source string,"
                " n_chars long",
            )
            df = df.limit(50).unionByName(extra.select(*df.columns))
        df.coalesce(1).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


DOC_BIGRAM_QUERIES = [
    "repetition_filter",
    "bigram_pmi_topk",
    "cdc_chunk_boundaries",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "bpe_merge_candidates",
    "doc_fingerprint",
    "token_entropy",
]


@pytest.mark.parametrize("name", DOC_BIGRAM_QUERIES)
def test_query_survives_degenerate_documents(spark, degen_docs_dir, name):
    from wsu_cpts_415_spark.ops.staging import clear_staged

    clear_staged()
    assert all_queries()[name].fn(spark, degen_docs_dir).count() >= 0


@pytest.fixture(scope="module")
def null_injected_dir(spark, tmp_path_factory):
    """sf0.001 tables with NULLs injected into every nullable-shaped
    column (documents.text/lang/source/n_chars, events.event_type/
    value/props, embeddings.embedding/label) -- the round-11 sweep axis.
    Policy: null rows flow to their defined bucket or drop, never throw.
    The sweep found 7 of 319 crashing, ALL in Python-kernel paths
    (np.stack/np.concatenate ragged on None, md5(None), Arrow inferring
    null type for an all-None group key) -- JVM expressions are
    null-safe for free; hand-written kernels are not."""
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("null_injected")
    for t in TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", t)
        if t == "documents":
            mx = df.agg(F.max("doc_id")).first()[0]
            extra = spark.createDataFrame(
                [
                    (mx + 1, None, "en", "web", None),
                    (mx + 2, "plain text here ok", None, None, 19),
                    (mx + 3, None, None, None, None),
                ],
                "doc_id long, text string, lang string, source string,"
                " n_chars long",
            )
            df = df.limit(80).unionByName(extra.select(*df.columns))
        elif t == "events":
            mx = df.agg(F.max("event_id")).first()[0]
            ts = df.agg(F.max("ts")).first()[0]
            extra = spark.createDataFrame(
                [
                    (mx + 1, ts, 1, None, None, None),
                    (mx + 2, ts, 2, "click", None, None),
                ],
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
            df = df.limit(400).unionByName(extra.select(*df.columns))
        elif t == "embeddings":
            mx = df.agg(F.max("vec_id")).first()[0]
            extra = spark.createDataFrame(
                [(mx + 1, None, None)],
                "vec_id long, embedding array<float>, label int",
            )
            df = df.unionByName(extra.select(*df.columns))
        df.coalesce(1).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


NULL_FORMER_CRASHERS = [
    "arrow_grouped_trimmed_mean",
    "cosine_topk_pandas",
    "embedding_center_groups",
    "multimodal_decode_features",
    "multimodal_frame_samples",
    "multimodal_resize_plan",
    "ngram_jaccard_matmul",
]


def _null_sampled_names() -> list[str]:
    names = sorted(all_queries())
    sample = names[7::16]  # offset so the sample differs from the empty one
    return sorted(set(NULL_FORMER_CRASHERS) | set(sample))


@pytest.mark.parametrize("name", _null_sampled_names())
def test_query_is_total_under_null_injection(spark, null_injected_dir, name):
    from wsu_cpts_415_spark.ops.staging import clear_staged

    clear_staged()
    assert all_queries()[name].fn(spark, null_injected_dir).count() >= 0


@pytest.fixture(scope="module")
def unicode_docs_dir(tmp_path_factory):
    """sf0.001 tables with the documents table augmented by adversarial
    Unicode rows (CJK, emoji+ZWJ, RTL marks, NFC/NFD twins, zero-width
    characters, combining-mark pileups, astral-plane codepoints) -- the
    round-12 fourth edge-population axis.  Unlike the other three axes
    this one is CROSS-ENGINE: byte-vs-codepoint divergence between
    Spark and DuckDB (length/substr/regex/shingle hashing) returns
    wrong answers, not crashes, so the gate below runs the full oracle
    differential, not just count()."""
    import unicode_sweep

    d = tmp_path_factory.mktemp("unicode_corpus")
    unicode_sweep.build_fixture(str(d))
    return str(d)


# Text-surface-heavy shapes where the two engines' string semantics
# could plausibly diverge: length/substr (n_chars, prefixes), regex
# tokenization, shingle hashing, per-codepoint fingerprints.
UNICODE_ORACLE_QUERIES = [
    "text_stats",
    "token_count_regex",
    "quality_score",
    "doc_fingerprint",
    "lang_id_heuristic",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "er_match_scores",
    "repetition_filter",
]


@pytest.mark.parametrize("name", UNICODE_ORACLE_QUERIES)
def test_unicode_corpus_cross_engine_parity(spark, unicode_docs_dir, name):
    from wsu_cpts_415_spark.ops.staging import clear_staged

    clear_staged()
    q = all_queries()[name]
    con = duck_connect(unicode_docs_dir)
    compare(q.fn(spark, unicode_docs_dir), con, q.oracle)


def _unicode_sampled_names() -> list[str]:
    names = sorted(all_queries())
    return names[11::16]  # offset differs from the other axes' samples


@pytest.mark.parametrize("name", _unicode_sampled_names())
def test_query_is_total_on_unicode_corpus(spark, unicode_docs_dir, name):
    from wsu_cpts_415_spark.ops.staging import clear_staged

    clear_staged()
    assert all_queries()[name].fn(spark, unicode_docs_dir).count() >= 0


def test_lev_grain_divergence_witness(spark):
    """Pins the cross-engine fact behind the unicode sweep's
    `oracle-limited(lev-grain)` exclusions (unicode_sweep.py
    LEV_ORACLE_LIMITED): DuckDB's `levenshtein` counts BYTE edits while
    Spark's counts CODEPOINT edits, so the lev-family oracles agree
    with the engine exactly on ASCII corpora (every routine conformance
    fixture) and diverge only in dist-derived columns on multi-byte
    pairs.  If either engine changes grain, this witness fails and the
    exclusion list must be re-adjudicated."""
    import duckdb

    duck = duckdb.connect().execute(
        "SELECT levenshtein('café', 'cafe'),"
        " levenshtein('深度学习', '機械学習')"
    ).fetchone()
    sp = spark.sql(
        "SELECT levenshtein('café', 'cafe') a,"
        " levenshtein('深度学习', '機械学習') b"
    ).first()
    assert (sp.a, sp.b) == (1, 3), "Spark levenshtein must be codepoint-grain"
    assert duck == (2, 8), "DuckDB levenshtein must be byte-grain"
