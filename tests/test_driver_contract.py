"""Driver-harness contract gates.

The per-round driver canonicalizes both result sets with a raw pandas
multi-column ``sort_values`` BEFORE stringifying values; pandas factorizes
object columns with a hash table there, so any list/struct/map cell raises
``TypeError: unhashable type`` and the whole query is recorded as a crash
(round-1 reds: multi_agg_per_group, ref_videos_flat,
multimodal_decode_features).  These tests enforce that contract locally:

* every registered query's output schema is scalar-only (no array /
  struct / map columns) -- checked from the analyzed plan, no execution;
* ``oracle_util.driver_canonicalize`` itself reproduces the driver's
  crash on a list column (so the oracle suite, which routes every compare
  through it, is genuinely running the stricter contract);
* every registered query has an oracle entry, or is on the explicit
  rows-only allowlist (the driver scores a missing oracle as a failure);
* the fixture views behind the SQL queries are registered once per
  session and dataset, and never answer for another dataset: the driver
  runs sf0.001 and sf0.01 in one session.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest

import __spark_entry__ as entry
from tests.conftest import SF_ORACLE, SF_SMOKE, sql_bodied
from tests.oracle_util import compare, driver_canonicalize, duck_connect
from wsu_cpts_415_spark.io import tables
from wsu_cpts_415_spark.registry import all_queries

# Queries intentionally without DuckDB oracle SQL (driver does a weaker
# rows-only check).  Keep EMPTY unless a query is truly SQL-inexpressible.
ROWS_ONLY_ALLOWED: set[str] = set()

_COMPLEX = ("array", "struct", "map")


def test_driver_canonicalize_rejects_list_cells():
    """Red-before/green-after evidence: the canonicalizer must fail the
    same way the driver's does on array-typed output."""
    bad = pd.DataFrame({"k": [2, 1], "segments": [["a", "b"], ["c"]]})
    with pytest.raises(TypeError):
        driver_canonicalize(bad)
    ok = pd.DataFrame({"k": [2, 1], "segments": ["a,b", "c"]})
    out = driver_canonicalize(ok)
    assert list(out["k"]) == [1, 2]


def test_every_query_has_oracle_or_is_allowlisted():
    qs, orc = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(orc) - ROWS_ONLY_ALLOWED)
    assert not missing, f"queries without oracle SQL: {missing}"


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_output_schema_is_scalar_only(spark, name):
    df = entry.queries()[name](spark, "/root/testdata/sf0.001")
    complex_cols = [
        f"{f.name}:{f.dataType.typeName()}"
        for f in df.schema.fields
        if f.dataType.typeName() in _COMPLEX
    ]
    assert not complex_cols, (
        f"{name} outputs driver-unsortable columns {complex_cols}; "
        "serialize with array_join/to_json in BOTH engines"
    )


def _check(spark, name: str, sf_dir: str) -> None:
    compare(entry.queries()[name](spark, sf_dir), duck_connect(sf_dir),
            entry.oracle_sql()[name])


def test_views_follow_the_dataset_when_alternating(spark):
    for sf_dir in (SF_SMOKE, SF_ORACLE, SF_SMOKE):
        for name in ("q6_forecast_revenue", "q1_pricing_summary"):
            _check(spark, name, sf_dir)


def test_new_session_resolves_its_own_views(spark):
    _check(spark, "q6_forecast_revenue", SF_SMOKE)
    other = spark.newSession()
    _check(other, "q6_forecast_revenue", SF_ORACLE)
    _check(spark, "q6_forecast_revenue", SF_SMOKE)
    _check(other, "q1_pricing_summary", SF_SMOKE)


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_replaced_table_file_is_seen(spark, tmp_path, layout):
    """A table rewritten in place -- the file itself, or the one part
    file of a parquet directory -- is re-read by the next call."""
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf_dir)
    os.chmod(sf_dir, 0o755)
    target = os.path.join(sf_dir, "lineitem.parquet")
    if layout == "dir":
        os.remove(target)
        os.mkdir(target)
        target = os.path.join(target, "part-0.parquet")
        shutil.copyfile(os.path.join(SF_SMOKE, "lineitem.parquet"), target)
    # q6 reads lineitem only: its oracle is the dataset lineitem came from
    q6 = entry.queries()["q6_forecast_revenue"]
    sql = entry.oracle_sql()["q6_forecast_revenue"]
    compare(q6(spark, sf_dir), duck_connect(SF_SMOKE), sql)
    os.chmod(target, 0o644)
    shutil.copyfile(os.path.join(SF_ORACLE, "lineitem.parquet"), target)
    compare(q6(spark, sf_dir), duck_connect(SF_ORACLE), sql)


def test_sql_round_loads_each_table_once(spark, monkeypatch):
    """Every query whose Spark body is its oracle SQL (TPC-H q1-q22 and
    the 74 others), run in one fresh session over one dataset, reads the
    fixture tables once, for the session's views -- not once per query."""
    calls = []
    load = tables.load_table

    def counting(*args, **kwargs):
        calls.append(args[-1])
        return load(*args, **kwargs)

    # the module attribute, and every module that bound it by name
    for module in list(sys.modules.values()):
        if getattr(module, "load_table", None) is load:
            monkeypatch.setattr(module, "load_table", counting)
    session = spark.newSession()
    sql = [q.fn for q in all_queries().values() if sql_bodied(q.fn)]
    assert len(sql) == 22 + 74
    for fn in sql:
        fn(session, SF_SMOKE)
    assert sorted(calls) == sorted(tables.TABLE_NAMES)
