"""Env-gated sf1 oracle parity: the full registry vs DuckDB at 10x the
bench scale.

The round-6 sf1 run caught a real nondeterminism bug (global_rank's
dual range-exchange boundary drift skewed ~8% of ntile assignments at
sf1 — invisible at sf0.1, where a single partition held each decile
boundary). That run lived as a COVERAGE.md note plus tools/gen_sf1.py;
this module makes it a REPEATABLE gate instead of archaeology:

    SPARK_GRAFT_SF1_DIR=/tmp/sf1 SPARK_GRAFT_CPUS=32 \
        python -m pytest tests/test_sf1_parity.py -q

Skipped (not failed) when SPARK_GRAFT_SF1_DIR is unset, so the default
suite's cost is unchanged. If the directory is missing or incomplete,
the corpus is regenerated via tools.gen_sf1.generate (disjoint-key
10x replication of the read-only sf0.1 testdata; ~2.5 GB, ~1 min).

Budget: ~25-30 min at 32 cpus — run per-round, not per-commit.
"""

from __future__ import annotations

import os
import sys

import pytest

from callysto_spark.tables import TABLES

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR")

pytestmark = pytest.mark.skipif(
    not SF1_DIR,
    reason="sf1 parity is a per-round gate: set SPARK_GRAFT_SF1_DIR to run "
    "(regenerates the corpus there if absent)",
)

if SF1_DIR:
    from callysto_spark.queries import load_all
    from tests.test_oracle import run_oracle_parity

    REGISTRY = load_all()
    _NAMES = sorted(REGISTRY)
else:  # collection still imports the module when skipping
    _NAMES = []


@pytest.fixture(scope="session")
def sf1_dir():
    missing = [t for t in TABLES if not os.path.exists(f"{SF1_DIR}/{t}.parquet")]
    if missing:
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
        import gen_sf1

        print(f"sf1 corpus incomplete at {SF1_DIR} (missing {missing}); regenerating")
        gen_sf1.generate(SF1_DIR)
    return SF1_DIR


def _quarter_host_memory_mb() -> int:
    """A quarter of the host's ``MemTotal`` in MB: DuckDB's default limit
    (80% of RAM) does not fit beside the Spark JVM, whose heap defaults
    to half of ``MemTotal``."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 4096
    raise RuntimeError("no MemTotal line in /proc/meminfo")


@pytest.fixture(scope="session")
def ddb_sf1(sf1_dir, tmp_path_factory):
    from tests.sf1_oracle import ProcessOracle

    views = {}
    for t in TABLES:
        # scaled tables are directories of per-copy part files (r14
        # sharded layout — see tools/gen_sf1.generate); DuckDB needs the
        # glob where Spark reads the directory natively
        path = f"{sf1_dir}/{t}.parquet"
        views[t] = f"{path}/*.parquet" if os.path.isdir(path) else path
    # bounded memory with a spill directory; each oracle runs in its own
    # process at DuckDB's default thread count (see tests/sf1_oracle.py)
    return ProcessOracle(
        views,
        {
            "memory_limit": f"{_quarter_host_memory_mb()}MB",
            "temp_directory": str(tmp_path_factory.mktemp("duckdb_spill")),
        },
    )


@pytest.mark.parametrize("name", _NAMES)
def test_sf1_query_matches_oracle(name, spark, ddb_sf1, sf1_dir):
    run_oracle_parity(name, spark, ddb_sf1, sf1_dir)
