"""Operator-internal utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# ------------------------------------------------------------------
# Transient persist tracking: operators that persist() an intermediate
# for multi-sided reuse (dedup's shingle table, LSH's banded table) hand
# the caller a LAZY result — the cache is consumed only when the caller
# runs an action, so the operator cannot unpersist before returning.
# Tracking pairs every such persist with an explicit release:
# `release_transient_persists()` runs at the start of every registry
# query (queries/__init__.py) and after each bench run, so a long-lived
# session executing many queries holds at most one query's worth of
# transient cache instead of accumulating caches forever. Strong
# references on purpose: the operator's local handle dies when it
# returns (only the JVM plan survives in the result), so a weakref
# would expire before the sweep and the JVM-side cache would leak.
_TRANSIENT: list[DataFrame] = []


def track_transient(df: DataFrame) -> DataFrame:
    """Register an already-cached/checkpointed DataFrame for release at
    the next `release_transient_persists()` sweep."""
    _TRANSIENT.append(df)
    return df


def release_local_checkpoint(df: DataFrame) -> bool:
    """Eagerly free a ``localCheckpoint()``'s persisted blocks; returns
    whether a checkpoint RDD was found and unpersisted.

    ``Dataset.unpersist()`` is a CacheManager operation and does NOT
    touch the RDD-level persist a localCheckpoint creates (verified on
    Spark 4.1: ``getPersistentRDDs`` keeps the entry after
    ``unpersist()``) — those blocks otherwise wait for driver-side GC +
    ContextCleaner, so an iterative operator can transiently hold EVERY
    round's blocks at once, which at 100 TB is the difference between
    one round of state and the whole history spilling the storage pool.
    A just-checkpointed Dataset's analyzed plan is a ``LogicalRDD``
    wrapping the persisted internal RDD; unpersist that directly."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False  # session stopped / plan shape changed


def transient_persist(df: DataFrame) -> DataFrame:
    """persist() + register for deferred release (see module note)."""
    return track_transient(df.persist())


def release_transient_persists() -> int:
    """Unpersist every tracked transient cache; returns how many were
    released.

    Contract: a released cache recomputes on the next action, and for
    most operators recompute is value-identical. The EXCEPTION is
    ``global_rank`` (operators/relational.py): its persist pins ONE
    draw of repartitionByRange's sampled boundaries across the two
    consuming branches — a recompute AFTER this sweep re-draws
    boundaries per branch and can re-introduce the off-by-one-bucket
    rank drift the persist exists to fix. So the sweep runs only at
    REGISTRY-QUERY BOUNDARIES (queries/__init__.py wrapper, bench
    loop), where the previous query's result has already been fully
    consumed; callers holding a global_rank-derived DataFrame across a
    boundary must re-invoke the query function rather than re-run
    actions on the stale handle. The standing plan audit
    (tests/test_determinism.py) enforces the within-query half of this
    invariant."""
    released = 0
    while _TRANSIENT:
        df = _TRANSIENT.pop()
        try:
            # Run BOTH releases, never route by plan shape: a Dataset
            # persist() whose analyzed plan happens to be a bare
            # LogicalRDD (e.g. a tracked persist of a localCheckpoint
            # result or a createDataFrame) needs the CacheManager
            # unpersist AND would previously be skipped once the
            # RDD-level release returned True, silently leaking the
            # CacheManager entry (r13 ADVICE finding 2). Both calls
            # are idempotent no-ops when inapplicable.
            release_local_checkpoint(df)
            df.unpersist()
            released += 1
        except Exception:
            pass  # session already stopped
    return released


def barrier_select(df: DataFrame, *keep, **named) -> DataFrame:
    """``df.select(*keep, **named aliased exprs)`` with every named
    expression materialized through an ``explode(array(struct(...)))``
    Generate barrier.

    Catalyst pushes a downstream Filter below the Project that defines
    an aliased expression by SUBSTITUTING the definition into the
    predicate (PushDownPredicates), and constraint inference multiplies
    the copies — one per conjunct, plus one per inferred join-key
    isnotnull. On a projected 64-element ``norm()`` fold guarded by
    ``valid_norm`` that re-evaluates the whole fold 4 extra times per
    row, and an IVF cell assignment consumed as a join key re-runs the
    k×dim argmin once per row in the inferred isnotnull filter
    (measured on emb_ivf_topk before r15: the scan Filter carried
    4× SQRT(aggregate(...)) + 1× array_min(...) that the next Project
    computed again). Generate is a pushdown barrier — predicates
    referencing its output cannot move below it — so each named
    expression is evaluated exactly once per row and every downstream
    test sees a cheap attribute. The 1-element explode itself is a
    codegen'd no-op loop; ``size(array(...)) > 0`` inferred for the
    barrier constant-folds away.

    Results are bit-identical to the plain select: same expressions,
    same rows, same nullability (``array(struct(...))`` never contains
    a NULL struct, so the exploded attribute keeps each field's own
    nullability).
    """
    from pyspark.sql import functions as F

    s = F.explode(F.array(F.struct(*[c.alias(k) for k, c in named.items()])))
    step = df.select(*keep, s.alias("__mat"))
    return step.select(
        *keep, *[F.col("__mat").getField(k).alias(k) for k in named]
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition when the input is a small file scan.

    Small single-file tables read as 1 partition and serialize every
    downstream narrow op; one cheap shuffle unlocks the cluster. Uses
    ``inputFiles()`` (metadata-only) rather than ``df.rdd`` (which
    builds the whole RDD plan). At real scale inputs have thousands of
    files/row-groups and this is a no-op.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = max(2, target // 2)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < threshold:
        return df.repartition(target)
    return df
