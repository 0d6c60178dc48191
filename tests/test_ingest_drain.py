"""perfbench.payload.batch_bytes — bench.py's per-micro-batch ingest drain.

Each ingest micro-batch is written to the noop sink, and its payload
size rides an ``Observation`` on the same job. The committed ingest MB/s
figures divide by what this function returns. These tests pin the two
edge cases ``perfbench/tests`` does not cover: NULL values and the empty
batch (a trial's trailing trigger can be empty). The multi-byte payload
case lives in ``perfbench/tests/test_perfbench.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.payload import batch_bytes  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def test_batch_bytes_skips_null_values(spark):
    df = spark.range(100).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.lit("x" * 64)).alias("value"),
    )
    # 66 of the 100 rows carry a 64-byte value; the 34 NULLs count nothing
    assert batch_bytes(df) == 66 * 64


def test_batch_bytes_empty_batch_counts_zero(spark):
    df = (
        spark.range(1)
        .select(F.col("id").alias("key"), F.lit("x").alias("value"))
        .where(F.lit(False))
    )
    assert batch_bytes(df) == 0
