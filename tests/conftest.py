from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

_groups = itertools.count()


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group
    (``setJobGroup`` + ``statusTracker()`` work with the UI off)."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Job events reach the status store through the async listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from mcp_rag_server_spark.session import get_spark

    # Small shuffle-partition count for tiny test data; production default
    # (32/AQE) is exercised by bench.py.
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same fixture views the driver registers."""
    import duckdb

    from mcp_rag_server_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF001}/{t}.parquet')"
        )
    yield con
    con.close()
