"""``queries``: the twelve ``bench=True`` registry queries, back to back
in one warm session, each written to the noop sink. Closed loop, one
client. The input is the repository's sf0.01 test corpus, shipped in
``perfbench/data``. Every query is checked against its DuckDB oracle
during set-up, with the time the checks take left out of it.
"""

from __future__ import annotations

import io
import os
import re
import time
from contextlib import redirect_stdout

import numpy as np

from perfbench.counters import STAGE_FIELDS
from perfbench.harness import MB, median, percentile, pyworker_cpu_ms

# The test corpus at sf0.01 (60k lineitem rows), the scale the
# repository's correctness gate runs at. A run fits the cold pass, the
# oracle checks, the warm passes and the timed passes in its time budget.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
FAMILIES = {
    "tpch": ["q1_pricing_summary", "q3_shipping_priority", "q5_supplier_volume",
             "part_type_topk", "supplier_daily_running"],
    "events": ["events_asof_purchase_click", "events_sessionize"],
    "docs": ["doc_ngram_jaccard_capped", "doc_pipeline_clean_corpus", "doc_token_stats"],
    "emb": ["emb_cosine_topk", "emb_ivf_topk"],
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}
WARM_PASSES = 1  # after the cold pass and the checks
MIN_PASSES = 3  # a traced run makes 4: untraced, traced, traced, untraced


def _noop(df) -> None:
    # the noop sink consumes full rows; count() would let the optimizer
    # prune the very columns the query computes
    df.write.format("noop").mode("overwrite").save()


def plan_shape(df) -> dict[str, float]:
    """Exchange, Python-node and join-strategy counts of a physical plan,
    as ``tools.opt_measure.plan_summary`` reads them."""
    from tools.opt_measure import plan_summary

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    s = plan_summary(buf.getvalue())
    joins = dict(re.findall(r"(\w+)x(\d+)", s.split("joins=[")[1].split("]")[0]))
    py = re.findall(r"x(\d+)", s.split("python=[")[1].split("]")[0])
    return {
        "exchanges": float(re.search(r"exchanges=(\d+)", s).group(1)),
        "python_nodes": float(sum(int(x) for x in py)),
        "smj": float(joins.get("SortMergeJoin", 0)),
        "bhj": float(joins.get("BroadcastHashJoin", 0)),
    }


def _summary(passes: list[dict], input_mb: float) -> dict[str, float]:
    """End-to-end figures of a set of passes. ``input_mb`` is the on-disk
    size of the input tables: fixed, so ``throughput_mbps`` is the pass
    rate in bytes and does not drop when a plan learns to read less."""
    per_pass = [sum(p["wall"].values()) / 1000.0 for p in passes]
    # each query's median over the passes, so one slow pass (a GC or
    # cleanup landing in it) does not move the query's figure
    per_query = [median([p["wall"][q] for p in passes]) for q in FAMILY_OF]
    out = {
        "work_s": median(per_pass),
        "latency_p50_ms": median(per_query),
        "latency_p90_ms": percentile(per_query, 90),
        "throughput_mbps": input_mb / median(per_pass),
    }
    for fam, qs in FAMILIES.items():
        out[f"{fam}_s"] = median([sum(p["wall"][q] for q in qs) / 1000.0 for p in passes])
    return out


def run(ctx) -> dict:
    from callysto_spark.queries import load_all
    from callysto_spark.tables import TABLES, load

    spark, tr, counters = ctx.spark, ctx.trace, ctx.counters
    registry = load_all()
    names = sorted(n for n, q in registry.items() if q.bench)
    if names != sorted(FAMILY_OF):
        raise RuntimeError(f"the bench=True query set changed: {names}")
    data = DATA
    with tr.span("tables.load_ms"):
        load(spark, data, *TABLES)
    rng = np.random.default_rng(ctx.seed)
    attempted = failed = 0

    def one_pass(tag: str) -> dict | None:
        """All twelve queries in a seeded order. Per query: wall (plan
        build + execution), plan-build and execution ms, and in traced
        passes the Python-worker CPU of its execution."""
        nonlocal attempted, failed
        rec: dict[str, dict] = {"wall": {}, "build": {}, "exec": {}, "pyw": {}}
        for name in rng.permutation(names):
            attempted += 1
            try:
                with counters.group(f"perfbench.{tag}.{FAMILY_OF[name]}"):
                    t0 = time.perf_counter()
                    df = registry[name].fn(spark, data)
                    t1 = time.perf_counter()
                    cpu0 = pyworker_cpu_ms() if tr.on else 0.0
                    _noop(df)
                    t2 = time.perf_counter()
                    if tr.on:
                        rec["pyw"][name] = pyworker_cpu_ms() - cpu0
            except Exception as exc:  # a query that raises is a failed operation
                failed += 1
                ctx.log(f"{name} failed: {exc!r}")
                return None
            spark.catalog.clearCache()
            rec["wall"][name] = (t2 - t0) * 1000.0
            rec["build"][name] = (t1 - t0) * 1000.0
            rec["exec"][name] = (t2 - t1) * 1000.0
        return rec

    def check_oracles() -> None:
        """Each query against its DuckDB oracle, through the repository's
        own comparison."""
        nonlocal attempted, failed
        import duckdb
        from tests.test_oracle import run_oracle_parity

        ddb = duckdb.connect()
        try:
            for t in TABLES:
                ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            for name in rng.permutation(names):
                attempted += 1
                try:
                    run_oracle_parity(name, spark, ddb, data)
                except Exception as exc:  # an oracle mismatch or a crash
                    failed += 1
                    ctx.log(f"oracle check {name} failed: {exc!r}"[:500])
        finally:
            ddb.close()

    # Set-up: a cold pass, which pays JIT compilation, class loading and
    # the Python workers' start, then the output checks, then warm passes.
    # The checks execute every query once more, so they also carry the JIT
    # towards its plateau, but their time is left out of set-up.
    one_pass("c")
    t0 = time.perf_counter()
    check_oracles()
    ctx.exclude_from_setup(time.perf_counter() - t0)
    for i in range(WARM_PASSES):
        one_pass(f"w{i}")
    ctx.setup_done()

    plain: list[dict] = []
    traced: list[dict] = []

    min_passes = 4 if ctx.traced else MIN_PASSES
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i < min_passes or time.perf_counter() < t_end:
        # a traced run interleaves untraced and traced iterations in the
        # order u t t u, so a drift over the run does not read as overhead
        tr.on = ctx.traced and i % 4 in (1, 2)
        rec = one_pass(f"{'t' if tr.on else 'p'}{i}")
        if rec is not None:
            (traced if tr.on else plain).append(rec)
        i += 1
    tr.on = False

    out = {"attempted": attempted, "failed": failed, "e2e": {}, "layers": {}, "detail": {"data": "sf0.01"}}
    if not plain:
        return out
    input_mb = sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in TABLES) / MB
    out["e2e"] = _summary(plain, input_mb)
    out["detail"].update(pass_walls=[sum(p["wall"].values()) / 1000.0 for p in plain])
    if not traced:
        return out
    layers = out["layers"]
    tsum = _summary(traced, input_mb)
    ctx.overheads(out["e2e"], tsum)
    n = len(traced)
    for fam, qs in FAMILIES.items():
        layers[f"{fam}_s"] = out["e2e"][f"{fam}_s"]
        layers[f"plan.build_ms.{fam}"] = median([sum(p["build"][q] for q in qs) for p in traced])
        wall = median([sum(p["exec"][q] for q in qs) for p in traced])
        layers[f"exec.wall_ms.{fam}"] = wall
        tot = counters.totals(lambda g, fam=fam: g.startswith("perfbench.t") and g.endswith(f".{fam}"))
        for k in STAGE_FIELDS:
            layers[f"exec.{k}.{fam}"] = tot[k] / n
        layers[f"exec.core_busy.{fam}"] = tot["run_ms"] / n / (wall * ctx.cores) if wall else 0.0
        layers[f"exec.pyworker_cpu_ms.{fam}"] = sum(p["pyw"][q] for p in traced for q in qs) / n
        shape = dict.fromkeys(("exchanges", "python_nodes", "smj", "bhj"), 0.0)
        for q in qs:
            for k, v in plan_shape(registry[q].fn(spark, data)).items():
                shape[k] += v
        for k, v in shape.items():
            layers[f"plan.{k}.{fam}"] = v
    return out
