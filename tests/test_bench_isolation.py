"""The bench must never lose a run's signal to one broken query
(round 3 shipped rc=1 with zero numbers). Runs bench.py with one
query's failure injected and a small ingest drain, and asserts the JSON
line still arrives with every other timing and the ingest figure."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.slow  # gated: see pytest.ini / conftest

# the bench's headline contract: these keys are always on the line
CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf", "ingest_mbps"}


def test_bench_survives_single_query_failure(sf_dir):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_INGEST_MSGS="640",
        SPARK_GRAFT_BENCH_FAIL="q3_shipping_priority",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        # a loaded host slows the subprocess drive well past its quiet
        # few minutes (a full-suite run once hit 420s and flaked)
        timeout=900,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.splitlines()[-1]
    out = json.loads(line)
    assert CONTRACT_KEYS <= set(out), sorted(out)
    assert out["queries"]["q3_shipping_priority"] is None
    others = {k: v for k, v in out["queries"].items() if k != "q3_shipping_priority"}
    assert others and all(isinstance(v, float) for v in others.values()), others
    assert out["value"] > 0
    # a partial run must self-identify: its total sums only surviving
    # queries and is NOT comparable to a complete run's total
    assert out["partial"] is True
    assert out["n_failed"] == 1
    # the line carries the exception type; the full text is on stderr
    assert out["errors"] == {"q3_shipping_priority": "RuntimeError"}
    assert "injected failure (SPARK_GRAFT_BENCH_FAIL)" in proc.stderr
    assert out["ingest_mbps"] > 0
    # a log collector that keeps only the last ~2 KB of stdout must
    # still capture the whole line
    assert len(line) < 1800, len(line)
