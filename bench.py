#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test corpus) on ``get_spark``'s core count, plus the
streaming-agent ingest drain; print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., "ingest_mbps": ...}

Environment:
- ``SPARK_GRAFT_SF_DIR``: corpus directory (default sf0.1);
- ``SPARK_GRAFT_BENCH_RUNS``: timed runs per query, the min is reported
  (default 5);
- ``SPARK_GRAFT_INGEST_MSGS``: ingest message count (default 100000;
  0 skips ingest and reports ``ingest_mbps: null``);
- ``SPARK_GRAFT_BENCH_FAIL``: comma-separated query names whose run
  raises, to test failure isolation.

Progress and full error text go to stderr; the JSON line is the last
line on stdout. Parent-vs-change A/B comparisons belong to
``perfbench/run.py``; this script is the one-line headline.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from callysto_spark.queries import load_all
from callysto_spark.session import get_spark

# Warm runs per query before its timed runs: the first executions pay
# whole-stage codegen compilation and the JVM's tiered JIT ramp.
WARMUPS = 3
# Timed ingest drains after one untimed warm drain; the median is reported.
INGEST_TRIALS = 5


def run(df) -> None:
    # noop sink, NOT count(): count() lets Catalyst prune every
    # unreferenced column, optimizing away the very aggregate
    # expressions being measured; the noop sink consumes full rows.
    df.write.format("noop").mode("overwrite").save()


def settle(spark) -> None:
    # Force the deferred JVM cleanup (ContextCleaner shuffle-file
    # deletes, dropped cache blocks, old-gen garbage from earlier runs)
    # to land OUTSIDE the next timed region. Without this, a heavy
    # query's cleanup fires lazily on the next driver GC and stalls the
    # following query's tasks — measured 1.2s → 14.8s on the query
    # after the shingle join.
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.75)


def query_bench(spark, sf_dir: str, registry, names: list[str], n_runs: int):
    """Per query: WARMUPS untimed runs, then the min of ``n_runs`` timed
    runs. One broken query costs only its own entry (None in the
    timings, its exception type in the errors)."""
    inject = os.environ.get("SPARK_GRAFT_BENCH_FAIL", "").split(",")
    # global warm pass: one execution of every query before any timed
    # section, so the session's own JIT storm (Spark internals, codegen
    # classloading, shuffle machinery) does not land on the first query
    for name in names:
        try:
            run(registry[name].fn(spark, sf_dir))
        except Exception:
            pass  # the per-query section reports the failure
        spark.catalog.clearCache()
    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            if name in inject:
                raise RuntimeError("injected failure (SPARK_GRAFT_BENCH_FAIL)")
            for _ in range(WARMUPS):
                run(registry[name].fn(spark, sf_dir))
                spark.catalog.clearCache()
            settle(spark)
            best = float("inf")
            for _ in range(n_runs):
                t0 = time.perf_counter()
                run(registry[name].fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            timings[name] = round(best, 3)
            print(f"# {name}: {best:.3f}s (min of {n_runs})", file=sys.stderr)
        except Exception as exc:
            timings[name] = None
            errors[name] = type(exc).__name__
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)
            spark.catalog.clearCache()
    return timings, errors


def ingest_bench(spark, n: int) -> float | None:
    """Streaming-agent ingest throughput in MB/s, methodology-matched to
    the reference's only published number (BASELINE.md: 278.47 MB/s,
    double-agent, 74 KB repetitive payloads, timed IN-AGENT from first
    to last message — consumer startup excluded).

    ``n`` messages of ~72 KB repeated-block text are staged as parquet
    once, then drained through an App agent on the JVM file-stream path
    (fresh checkpoint per drain): one untimed warm drain, then the
    median of INGEST_TRIALS drains. MB/s = payload bytes / (last batch
    end − first batch start)."""
    from pyspark.sql import functions as F

    from callysto_spark.app import App
    from callysto_spark.sources import SourceSpec
    from perfbench.payload import batch_bytes

    base = tempfile.mkdtemp(prefix="callysto_ingest_")
    try:
        chunk = F.sha2(F.concat(F.col("id").cast("string"), F.lit("salt")), 256)
        payload = F.repeat(chunk, 74000 // 64)
        (
            spark.range(n)
            .repartition(64)
            .select(F.col("id").alias("key"), payload.alias("value"))
            .write.mode("overwrite")
            .parquet(f"{base}/gen")
        )
        # stage flat part files (FileStreamSource wants plain files, not
        # a writer output dir with metadata)
        os.makedirs(f"{base}/stage")
        for i, f_ in enumerate(sorted(os.listdir(f"{base}/gen"))):
            if f_.endswith(".parquet"):
                shutil.copy(f"{base}/gen/{f_}", f"{base}/stage/{i:04d}.parquet")
        # warm the full corpus once (batch read, untimed): heats the
        # parquet-decode JIT paths and the page cache
        spark.read.parquet(f"{base}/stage").agg(F.sum(F.length("value"))).collect()

        def drain(label: str) -> float | None:
            stats: dict = {"bytes": 0, "t0": None, "t1": None}
            src = SourceSpec.parquet_stream(f"{base}/stage", schema="key long, value string")
            # 64 staged files, 16 per trigger: four micro-batches a drain
            src.options["maxFilesPerTrigger"] = 16
            app = App(label, spark=spark, checkpoint_root=f"{base}/ckpt_{label}")

            @app.agent("counter", src)
            def counter(b, ctx):
                if stats["t0"] is None:
                    stats["t0"] = time.perf_counter()
                # the payload is ASCII hex, so its octet count equals
                # its character count
                stats["bytes"] += batch_bytes(b)
                stats["t1"] = time.perf_counter()

            app.run(await_termination=True, timeout=600)
            app.stop()
            if stats["t0"] is None or stats["t1"] <= stats["t0"]:
                return None
            return stats["bytes"] / (1024 * 1024) / (stats["t1"] - stats["t0"])

        settle(spark)
        drain("bench_ingest_warm")
        rates = []
        for trial in range(INGEST_TRIALS):
            settle(spark)
            mbps = drain(f"bench_ingest_t{trial}")
            print(f"# ingest drain {trial}: {mbps} MB/s", file=sys.stderr)
            if mbps is not None:
                rates.append(mbps)
        return round(statistics.median(rates), 1) if rates else None
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    n_msgs = int(os.environ.get("SPARK_GRAFT_INGEST_MSGS", "100000"))
    registry = load_all()
    names = [n for n, q in sorted(registry.items()) if q.bench]
    if "--all" in sys.argv:
        names = sorted(registry)
    spark = get_spark("callysto-bench")
    # warm the JVM + parquet footers once, outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    ingest = None
    if n_msgs > 0:
        try:
            ingest = ingest_bench(spark, n_msgs)
        except Exception as exc:  # the query line must survive the extra metric
            print(f"# ingest bench failed: {type(exc).__name__}: {exc}", file=sys.stderr)
    timings, errors = query_bench(spark, sf_dir, registry, names, n_runs)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(v for v in timings.values() if v is not None), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "ingest_mbps": ingest,
    }
    if errors:
        # the total sums only SURVIVING queries: flag it so a partial run
        # is never compared against a complete run's total
        out["errors"] = errors
        out["partial"] = True
        out["n_failed"] = len(errors)
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
