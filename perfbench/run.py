"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Reads the test tables shipped under
``perfbench/data`` in an order set by ``--seed``, measures for
``--seconds``, checks the outputs, and prints as the last line of
stdout one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A line before it
carries the host stamps and the workload's own figures. Exits non-zero,
printing no result, when the engine cannot be imported or the workload
crashes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

WORKLOADS = ("queries", "table_agent")


class Ctx:
    """What a workload gets: the session, counters, tracing and the run's
    parameters. The workload calls :meth:`setup_done` when its warm-up
    ends and the timed part begins."""

    def __init__(self, args, work_dir, spark, trace, counters, cores, t0, spec):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work_dir = work_dir
        self.spark = spark
        self.trace = trace
        self.counters = counters
        self.cores = cores
        self.t0 = t0
        self.setup_s: float | None = None
        self._excluded = 0.0
        self.overhead: dict[str, float] = {}
        self._better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    def log(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    def exclude_from_setup(self, seconds: float) -> None:
        """Leave ``seconds`` of output checking out of the set-up time."""
        self._excluded += seconds

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0 - self._excluded

    def overheads(self, plain: dict[str, float], traced: dict[str, float]) -> None:
        from perfbench.harness import overhead_pct

        for name, better in self._better.items():
            if name in plain and name in traced:
                self.overhead[name] = overhead_pct(plain[name], traced[name], better)


def _stop_jvm(spark) -> None:
    """Stop Spark, then the py4j gateway JVM this process launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = time.perf_counter()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # import everything from the checkout root: the benchmark as the
    # perfbench package, the engine, and the repository's own helpers
    sys.path[0] = root
    try:
        import callysto_spark  # the engine under test, from this checkout only
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(callysto_spark.__file__).startswith(os.path.join(root, "")):
        print(f"perfbench: the engine was imported from {callysto_spark.__file__}, not {root}", file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.counters import StatusCounters

    work_dir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # Python workers start in the checkout root and import the
    # workload's closures from the perfbench package
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    # pandas deprecation notices from pyspark's own serializers, once per
    # micro-batch, would drown the log
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"

    cores = harness.host_cores()
    mem_total_kb = harness.meminfo_kb()["MemTotal"]
    mem_mb = harness.driver_memory_mb(mem_total_kb)
    trace = harness.Trace()
    trace.on = bool(args.trace)  # set-up spans
    spark = None
    try:
        with trace.span("session.start_ms"):
            spark = harness.start_session(f"perfbench-{args.workload}", work_dir, cores, mem_mb)
        ctx = Ctx(args, work_dir, spark, trace, StatusCounters(spark), cores, t0, spec)
        stamps = harness.stamps(spark, cores, mem_total_kb, mem_mb, root)
        if args.workload == "queries":
            from perfbench.wl_queries import run
        else:
            from perfbench.wl_table import run
        res = run(ctx)
        peak_rss = harness.tree_peak_rss_mb()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=ctx.setup_s or 0.0, peak_rss_mb=peak_rss)
    layers = dict(res["layers"])
    layers["session.start_ms"] = trace.total("session.start_ms")
    layers["tables.load_ms"] = trace.total("tables.load_ms")
    layers["proc.peak_rss_mb"] = peak_rss
    layers["latency_p90_ms"] = e2e.get("latency_p90_ms", 0.0)
    for name, pct in ctx.overhead.items():
        layers[f"trace.overhead_pct.{name}"] = pct
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "run_wall_s": time.perf_counter() - t0, "host": stamps, "e2e": e2e,
              **res.get("detail", {})}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0 and bool(res["e2e"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
