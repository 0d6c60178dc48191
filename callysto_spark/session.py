"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on, ``os.sched_getaffinity``) with a driver heap of
``$SPARK_GRAFT_DRIVER_MEM`` (default: half the host's RAM); the same
config block is what we would ship to a 1000-executor cluster — AQE on
(runtime coalescing + skew-join splitting), UTC session time, Arrow for
the Python boundary, and shuffle partitions sized to the parallelism at
hand rather than the 200 default.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

MEMINFO = "/proc/meminfo"
# Generated classes Spark keeps compiled (``spark.sql.codegen.cache.maxEntries``,
# default 100). The registry's queries generate more classes than that in one
# pass, so under the default LRU every warm pass recompiled most of them with
# Janino, inside tasks and exchange preparation. The cap is at least twice the
# registry's working set (re-check it with ``tools/opt_measure.py codegen
# --all``). An entry holds the class's source and its loaded class, and
# streaming code that is new in every micro-batch (a per-batch literal) fills
# the cache up to the cap. The conf is static: ``CodeGenerator`` sizes its
# cache once per JVM from the first session's conf, so a session built outside
# ``get_spark`` (the correctness driver's own, for one) keeps 100.
CODEGEN_CACHE_ENTRIES = 2048
# the directory that holds the ``callysto_spark`` package
ENGINE_ROOT = str(Path(__file__).resolve().parents[1])


def _half_host_memory() -> str:
    """Half of the host's RAM (``MemTotal``), at least 1g, as a heap size."""
    with open(MEMINFO) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return f"{max(int(line.split()[1]) // 2048, 1024)}m"
    raise RuntimeError(f"no MemTotal line in {MEMINFO}")


def get_spark(
    app_name: str = "callysto-spark",
    master: str | None = None,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we run
    ``local[N]``. Every conf here is also correct for cluster mode.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Parallelism: shuffle partitions ~ cores locally. On a cluster AQE
        # coalesces from a high initial number; keep both knobs explicit.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batches for every pandas_udf / toPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dim tables (nation/region/supplier at any SF; part/customer at
        # test SFs) should broadcast; 64 MB covers them without risking
        # driver OOM at 100 TB fact scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read ns as long (callysto_spark.tables.load
        # converts back to µs timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferWindowGroupLimit skips row_number()<=k filters with
        # k above this threshold (default 1000); the bounded top-k
        # sketches (operators/sketches.py) use k up to a few thousand
        # and depend on the map-side prune, so raise it well past any
        # sketch size while still far below a partition's row count.
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(64 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_host_memory(),
        )
        # Fork Python workers from the engine's daemon, which stops every
        # task re-reading pyspark.zip (runtime/pydaemon.py). Spark starts
        # it with ``python -m``, so the workers' path must hold the engine
        # even when the driver found it through its own sys.path.
        .config("spark.python.daemon.module", "callysto_spark.runtime.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
