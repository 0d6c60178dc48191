#!/usr/bin/env python
"""Plan-shape summaries for registry queries.

``plans [--all] [names...]`` prints one ``name: summary`` line per query
(default: the bench headline set): Exchange count, join strategies,
Python-eval nodes and PushedFilters, read from ``explain("formatted")``.
The ``--all`` output with ``SPARK_GRAFT_SF_DIR`` set to the sf0.001
test corpus is the committed ledger ``tests/plan_ledger.txt``, which
``tests/test_plans.py`` checks::

    python tools/opt_measure.py plans --all > tests/plan_ledger.txt
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from callysto_spark.queries import load_all
from callysto_spark.session import get_spark


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_summary(text: str) -> str:
    # count operators from the numbered detail section only (the tree
    # rendering above it repeats every node name)
    n_ex = len(re.findall(r"^\(\d+\) Exchange", text, re.M))
    joins = re.findall(r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", text, re.M)
    pyev = re.findall(r"^\(\d+\) (BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", text, re.M)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
    pushed_n = sum(1 for p in pushed for f in p.split(",") if f.strip())
    from collections import Counter
    jc = ",".join(f"{k}x{v}" for k, v in sorted(Counter(joins).items()))
    pc = ",".join(f"{k}x{v}" for k, v in sorted(Counter(pyev).items()))
    return f"exchanges={n_ex} joins=[{jc}] python=[{pc}] pushed_filters={pushed_n}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["plans"])
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
    for name in names:
        print(f"{name}: {plan_summary(plan_text(registry[name].fn(spark, sf_dir)))}")


if __name__ == "__main__":
    main()
