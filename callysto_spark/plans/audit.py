"""Physical-plan audit helpers.

The 100 TB contract is a plan-shape contract: filters reach the parquet
scan, constant-size dims broadcast, shuffles are counted and justified,
the hot path stays inside whole-stage codegen. These helpers extract
those properties from ``explain()`` output so tests can pin them —
a regression that un-broadcasts a dim join or drops a pushed filter
fails CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries in the scan nodes of ``df``'s plan."""
    return pushed_filters_in(physical_plan(df))


def pushed_filters_in(plan: str) -> list[str]:
    """All PushedFilters entries in a plan's text (empty strings removed).

    Parsed depth-aware: a naive comma split would fragment binary
    filters (``GreaterThan(a,5)`` → two bogus entries) and a
    first-``]`` capture would truncate at ``In(a, [1,2,3])``'s inner
    bracket, dropping the rest of the list (r7 review)."""
    out: list[str] = []
    marker = "PushedFilters: ["
    i = 0
    while True:
        s = plan.find(marker, i)
        if s < 0:
            return out
        j = s + len(marker)
        bdepth, pdepth, start = 1, 0, j
        parts: list[str] = []
        while j < len(plan) and bdepth > 0:
            ch = plan[j]
            if ch == "[":
                bdepth += 1
            elif ch == "]":
                bdepth -= 1
            elif ch == "(":
                pdepth += 1
            elif ch == ")":
                pdepth -= 1
            elif ch == "," and bdepth == 1 and pdepth == 0:
                parts.append(plan[start:j])
                start = j + 1
            j += 1
        parts.append(plan[start : j - 1])
        out.extend(p.strip() for p in parts if p.strip())
        i = j


def scan_read_schemas(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(table, read columns) for every parquet scan in the plan.

    The instrument for the column-pruning contract: a scan whose
    ReadSchema lists every column of a wide table means pruning never
    reached it (an opaque barrier — e.g. a mapInPandas over full rows,
    or a stray ``select('*')`` — forced a full-width read), which at
    100 TB is the difference between reading 2 columns and 11."""
    import re

    plan = physical_plan(df)
    out: list[tuple[str, list[str]]] = []
    loc = re.compile(r"Location.*?/(\w+)\.parquet")
    # greedy to the LAST '>' on the line: nested types
    # (array<float>, map<string,int>, struct<...>) contain '>' and ','
    # themselves, so a lazy regex + raw comma split would silently drop
    # every column after the first nested one — exactly the wide
    # mapInPandas tables this helper exists to audit
    rs = re.compile(r"ReadSchema: struct<(.*)>")
    for block in plan.split("Scan parquet")[1:]:
        m, s = loc.search(block), rs.search(block)
        if m and s:
            cols, depth, start = [], 0, 0
            body = s.group(1)
            for i, ch in enumerate(body + ","):
                if ch in "<([":
                    depth += 1
                elif ch in ">)]":
                    depth -= 1
                elif ch == "," and depth == 0:
                    field = body[start:i].strip()
                    if field:
                        cols.append(field.split(":")[0].strip())
                    start = i + 1
            out.append((m.group(1), cols))
    return out


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excludes broadcast exchanges and
    ReusedExchange references — a reused exchange executes ONCE at its
    original site; counting the reference would report 2 shuffles where
    1 runs, and a reused *broadcast* would count as a shuffle)."""
    plan = physical_plan(df)
    return len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange \(\d+\)", plan))


def _walk_logical(node):
    """Depth-first over a logical plan INCLUDING expression-embedded
    subquery plans (scalar/exists subqueries carry whole plans inside
    expressions, invisible to children())."""
    yield node
    subs = node.subqueries()
    for i in range(subs.size()):
        yield from _walk_logical(subs.apply(i))
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


def _is_nondet_source(node) -> bool:
    """Does THIS node introduce run-to-run nondeterminism?

    Three classes (the round-6 package audit's taxonomy):
    - any nondeterministic expression (rand/spark_partition_id/
      monotonically_increasing_id/...): ``Expression.deterministic``
      already recurses, so top-level expressions suffice;
    - ``Sample`` (seeded, but output still depends on the upstream
      partitioning/row order);
    - ``RepartitionByExpression`` over SortOrder keys — i.e.
      ``repartitionByRange`` — whose boundary SAMPLING re-draws per
      compiled exchange. This one is invisible to ``deterministic``
      and is exactly what skewed global_rank's ntile assignments at
      sf1 (see operators/relational.py).
    """
    cls = node.getClass().getSimpleName()
    if cls == "Sample":
        return True
    if cls == "RepartitionByExpression":
        pexprs = node.partitionExpressions()
        for i in range(pexprs.size()):
            if pexprs.apply(i).getClass().getSimpleName() == "SortOrder":
                return True
    exprs = node.expressions()
    for i in range(exprs.size()):
        if not exprs.apply(i).deterministic():
            return True
    return False


def nondet_dual_consumption(df: DataFrame) -> list[str]:
    """Nondeterministic subtrees consumed by MORE THAN ONE branch of the
    plan — the bug class the sf1 parity run caught in global_rank: a
    shared DataFrame holding a nondeterminism source (range-sampled
    exchange, rand salt, partition id) appears as N identical subtrees
    in the logical plan, each compiled and EXECUTED independently, so
    the branches can observe different draws of the same 'value'.

    Audits the optimized plan AFTER cache substitution: a persisted
    shared subtree becomes an InMemoryRelation leaf (one materialization,
    consistent across consumers) and correctly stops matching. Returns a
    description per duplicated source subtree; empty list = clean.
    Canonicalized ``semanticHash`` keys the duplicate detection, so
    alias/exprId differences between the branches don't hide a match.
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    counts: dict[int, int] = {}
    reprs: dict[int, str] = {}
    for node in _walk_logical(plan):
        if _is_nondet_source(node):
            h = node.semanticHash()
            counts[h] = counts.get(h, 0) + 1
            if h not in reprs:
                reprs[h] = f"{node.nodeName()}: {node.simpleString(25)}"
    return [reprs[h] for h, c in sorted(counts.items()) if c > 1]


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages (simple-mode `*(n)` markers).

    Under AQE the pre-execution plan carries no codegen markers
    (isFinalPlan=false); execute once so the final plan is inspectable.
    """
    plan = physical_plan(df, mode="simple")
    if "isFinalPlan=false" in plan:
        # discard-on-executors, NOT collect(): the execution is only a
        # side effect to finalize the AQE plan, and collect() would
        # materialize the full result on the driver (OOM risk on wide
        # results). A noop WRITE doesn't work here — it wraps df in a
        # new command queryExecution and leaves df's own un-finalized.
        # rdd.foreach drives df's own queryExecution; rows stream to
        # executor-side workers and are dropped there.
        df.rdd.foreach(lambda _: None)
        plan = physical_plan(df, mode="simple")
    return len(set(re.findall(r"\*\((\d+)\)", plan)))
