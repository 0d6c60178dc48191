"""Tests for the benchmark's own measuring code.

    python -m pytest perfbench/tests -q

They start one small Spark session (2 cores) and need nothing else.
"""

from __future__ import annotations

import os
import time

import pytest

from perfbench.counters import ProgressLog, StatusCounters, stream_layers
from perfbench.harness import percentile


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from callysto_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        cpus=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


def test_status_store_attributes_jobs_to_their_group(spark):
    counters = StatusCounters(spark)
    before = counters.last_job_id()
    t0 = time.perf_counter()
    with counters.group("perfbench.test.groupby"):
        rows = spark.range(200_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    wall_ms = (time.perf_counter() - t0) * 1000.0
    assert len(rows) == 7
    launched = [(jid, grp) for jid, grp, _ in counters.jobs() if jid > before]
    assert launched, "the groupBy launched no job"
    assert all(grp == "perfbench.test.groupby" for _, grp in launched), launched
    tot = counters.totals(lambda g: g == "perfbench.test.groupby", after_job=before)
    cores = int(spark.sparkContext.defaultParallelism)
    assert tot["jobs"] == len(launched)
    assert 0 < tot["run_ms"] <= wall_ms * cores
    assert tot["shuffle_write_bytes"] > 0
    assert tot["shuffle_read_bytes"] > 0


def test_group_is_cleared_after_the_block(spark):
    counters = StatusCounters(spark)
    with counters.group("perfbench.test.inside"):
        spark.range(10).collect()
    before = counters.last_job_id()
    spark.range(10).collect()
    after = [grp for jid, grp, _ in counters.jobs() if jid > before]
    assert after and all(grp is None for grp in after)


def test_progress_log_keeps_every_batch(spark, tmp_path):
    """More batches than ``numRecentProgressUpdates`` keeps: the listener
    must still hold one progress record per batch id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files = 12
    src = tmp_path / "src"
    src.mkdir()
    for i in range(n_files):
        pq.write_table(pa.table({"x": list(range(i * 10, i * 10 + 10))}), src / f"{i:03d}.parquet")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "3")
    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        q = (
            spark.readStream.schema("x long").option("maxFilesPerTrigger", 1).parquet(str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        run_id = str(q.runId)
        # listener events arrive asynchronously after the query ends
        deadline = time.time() + 30
        while len(log.batches(run_id)) < n_files and time.time() < deadline:
            time.sleep(0.1)
        batches = log.batches(run_id)
        assert len(q.recentProgress) < len(batches)
    finally:
        spark.streams.removeListener(log)
        spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
    last = max(b["batchId"] for b in batches)
    assert len(batches) == last + 1 == n_files
    layers = stream_layers(batches)
    assert layers["stream.batches"] == n_files
    assert 0.0 <= layers["stream.coord_share"] <= 1.0


def test_payload_bytes_count_octets_not_characters(spark):
    """A multi-byte payload: the count must be UTF-8 bytes."""
    from perfbench.payload import MSG_BYTES, batch_bytes, payload_column

    values = ["é" * 5, "日本語", "ascii", "ß€"]
    df = spark.createDataFrame([(v,) for v in values], "value string")
    expected = sum(len(v.encode("utf-8")) for v in values)
    assert expected > sum(len(v) for v in values)
    assert batch_bytes(df) == expected

    msg = spark.range(3).select(payload_column("salt").alias("value"))
    assert batch_bytes(msg) == 3 * MSG_BYTES


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0


def test_engine_is_required(tmp_path):
    """Run outside a checkout (only BENCHMARK.json and the benchmark's
    files): the command fails and prints no result."""
    import shutil
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode != 0
    assert res.stdout.strip() == ""
