"""Central query registry: name -> (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 is exposed as a named query; the driver
contract (__spark_entry__.py) runs the Spark side against the fixture
tables and the oracle SQL against DuckDB over the same parquet files,
comparing row count + schema + order-insensitive value hash.

Importing ``wsu_cpts_415_spark.queries`` populates the registry.  A query
whose Spark body is its oracle registers through ``register_sql``: the
one SQL text is run by DuckDB and, over the fixture views, by
``spark.sql`` -- SQL text and DataFrames compile to the same Catalyst
plan, so a second, DataFrame formulation would buy no plan.  A query
with a DataFrame body (an API case, a kernel, a hint, a staged layer,
or an oracle Spark cannot run) registers with the ``register``
decorator.  Determinism rules for every registered query:

  * every computed column is aliased identically in Spark and SQL;
  * every top-k / limit has a total-order tie-break;
  * float aggregates are rounded before output (driver hashes values);
  * no order-sensitive aggregate (collect_list) without a sort guarantee.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from wsu_cpts_415_spark.io.tables import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def register_sql(name: str, note: str, sql: str) -> None:
    """Register ``sql`` as query ``name``: its DuckDB oracle, and its
    Spark body run verbatim through ``spark.sql`` over the views of
    ``sf_dir`` (registered once per session and dataset).  ``note`` is
    the query's doc.  Like ``collections.namedtuple``, the body's
    ``__module__`` is the calling module, the one that registers it."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    fn.__name__ = fn.__qualname__ = name
    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    fn.__doc__ = note
    register(name, oracle=sql)(fn)


def all_queries() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return all."""
    import wsu_cpts_415_spark.queries  # noqa: F401

    return dict(REGISTRY)
