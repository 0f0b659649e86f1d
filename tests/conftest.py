from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


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
