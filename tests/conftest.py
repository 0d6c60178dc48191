from __future__ import annotations

import os

import duckdb
import pytest

from callysto_spark.session import get_spark
from callysto_spark.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Default ``pytest tests/ -q`` must finish inside the tier-1
    verify budget (ROADMAP.md). Tests marked ``slow`` (the bench.py
    subprocess drive, the fuzz sweeps, the storage soaks) are skipped
    unless SPARK_GRAFT_SLOW_TESTS=1; run the full surface that way once
    per change and record the counts in CHANGES.md.
    """
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow suite — set SPARK_GRAFT_SLOW_TESTS=1 to include"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("callysto-tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
