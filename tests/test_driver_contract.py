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
  rows-only allowlist (the driver scores a missing oracle as a failure).
"""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entry
from tests.oracle_util import driver_canonicalize

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
