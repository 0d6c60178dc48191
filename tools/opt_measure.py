#!/usr/bin/env python
"""Plan-shape summaries and codegen counts for registry queries.

``plans [--all] [names...]`` prints one ``name: summary`` line per query
(default: the bench headline set): Exchange count, join strategies,
Python-eval nodes and PushedFilters, read from ``explain("formatted")``.
The ``--all`` output with ``SPARK_GRAFT_SF_DIR`` set to the sf0.001
test corpus is the committed ledger ``tests/plan_ledger.txt``, which
``tests/test_plans.py`` checks::

    python tools/opt_measure.py plans --all > tests/plan_ledger.txt

``codegen [--all] [names...]`` runs the queries to the noop sink twice,
in one session, and prints how many classes each query compiled on the
first and on the second pass, then the totals and the bytecode size per
generated class. The first-pass total is the working set that
``callysto_spark.session.CODEGEN_CACHE_ENTRIES`` must hold; a second
pass that compiles anything shows code the cache cannot reuse.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from callysto_spark.plans.audit import physical_plan, pushed_filters_in
from callysto_spark.queries import load_all
from callysto_spark.session import get_spark


def plan_summary(text: str) -> str:
    # count operators from the numbered detail section only (the tree
    # rendering above it repeats every node name)
    n_ex = len(re.findall(r"^\(\d+\) Exchange", text, re.M))
    joins = re.findall(r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", text, re.M)
    pyev = re.findall(r"^\(\d+\) (BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", text, re.M)
    pushed_n = len(pushed_filters_in(text))
    from collections import Counter
    jc = ",".join(f"{k}x{v}" for k, v in sorted(Counter(joins).items()))
    pc = ",".join(f"{k}x{v}" for k, v in sorted(Counter(pyev).items()))
    return f"exchanges={n_ex} joins=[{jc}] python=[{pc}] pushed_filters={pushed_n}"


def codegen_metrics(spark):
    """Spark's JVM-wide codegen metrics (``CodegenMetrics``)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics


def compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM: one per codegen cache miss."""
    return codegen_metrics(spark).METRIC_COMPILATION_TIME().getCount()


def run_noop(spark, query, sf_dir: str) -> None:
    """Run one registry query to the noop sink, which consumes full rows."""
    query.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def codegen_counts(spark, registry, names, sf_dir: str) -> dict[str, list[int]]:
    """Classes each query compiled on a first and on a second pass."""
    counts = {name: [] for name in names}
    for _ in range(2):
        for name in names:
            before = compile_count(spark)
            run_noop(spark, registry[name], sf_dir)
            counts[name].append(compile_count(spark) - before)
    return counts


def codegen_report(spark, registry, names, sf_dir: str) -> None:
    counts = codegen_counts(spark, registry, names, sf_dir)
    for name, (first, second) in counts.items():
        print(f"{name}: first={first} second={second}")
    first, second = (sum(c[i] for c in counts.values()) for i in range(2))
    print(f"total: queries={len(names)} first={first} second={second}")
    snap = codegen_metrics(spark).METRIC_GENERATED_CLASS_BYTECODE_SIZE().getSnapshot()
    print(
        f"class bytecode: mean={snap.getMean() / 1024:.1f}KB "
        f"p95={snap.get95thPercentile() / 1024:.1f}KB max={snap.getMax() / 1024:.1f}KB"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["plans", "codegen"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    if args.names:
        names = args.names
    elif args.all:
        names = sorted(registry)
    else:
        names = [n for n, q in sorted(registry.items()) if q.bench]
    spark = get_spark("callysto-opt-measure")
    if args.cmd == "codegen":
        codegen_report(spark, registry, names, sf_dir)
        return
    for name in names:
        print(f"{name}: {plan_summary(physical_plan(registry[name].fn(spark, sf_dir)))}")


if __name__ == "__main__":
    main()
