from __future__ import annotations

import pytest

from wsu_cpts_415_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="wsu_cpts_415_spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


def jobs_during(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(list(sc.statusTracker().getJobIdsForGroup(group)))
