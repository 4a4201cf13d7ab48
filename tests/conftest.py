from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    """One session-scoped SparkSession for the whole suite.

    SUITE INVARIANT (r10 ADVICE): no test module may rely on a
    ``persist()``/``cache()`` surviving across module boundaries — cache
    is APPLICATION-wide (a separate ``newSession()`` would not isolate
    it), so any module may clear it. The shuffle/scan-fingerprint gate
    (tests/test_shuffle_budget.py) replays in its own process for the
    same reason: a leftover persist would swap its FileScans for
    InMemoryTableScan. Caches are a per-module
    performance detail here; recomputation after a clear is always
    correct, so the only cost of violating this is time — but a test
    ASSERTING on InMemoryTableScan plan shape must create the persist
    itself in the same module.
    """
    from dask_hivemetastore_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the driver's ten views pre-registered."""
    import duckdb

    from dask_hivemetastore_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
