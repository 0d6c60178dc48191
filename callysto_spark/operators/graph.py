"""Connected components: cluster near-duplicate pairs into groups.

The step after every pair-producing dedup operator (Jaccard, MinHash-
LSH, SimHash, embedding blocking): near-dup PAIRS become near-dup
GROUPS, and each group keeps one canonical survivor. An iterative
algorithm — Spark has no recursive CTE — implemented as min-label
propagation: every vertex repeatedly adopts the smallest label among
itself and its neighbors until a fixpoint.

Scale shape: the driver loop is CONTROL FLOW only (one tiny convergence
probe per iteration); each iteration's data path is one shuffled
join + min-aggregation over the edge list, all distributed. Every round
``localCheckpoint(eager=True)`` materializes the new labels and
TRUNCATES lineage, so the logical plan stays depth-1 no matter how many
rounds run — without it, analysis time and DAG size grow superlinearly
with iteration count (each round nests another join). On a real cluster
swap ``localCheckpoint`` for reliable ``checkpoint()`` against the
checkpoint dir if executor loss during the loop must be survivable.

Rounds needed = graph diameter. Near-dup clusters are shallow (a handful
of rounds), which is the shape every dedup pipeline feeds it.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from callysto_spark.operators.util import release_local_checkpoint, track_transient


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(src, dst) undirected edges → (vertex, component), component =
    the minimum vertex id in the connected component (deterministic).

    Isolated vertices don't appear in edges and so don't appear in the
    output (callers union them back if needed). Self-loops are ignored.

    Warns (``RuntimeWarning``) if the propagation has not reached a
    fixpoint within ``max_iterations`` — the returned labeling is then a
    refinement (components may still be split), and downstream survivor
    selection would keep too many documents. Raise ``max_iterations``
    for high-diameter graphs.
    """
    # r15 optimization (guide §2.4 "share one exchange" / §2.3 "aggregate
    # before you shuffle"): the persisted edge list is keyed AND sorted
    # by the per-round join key `b` once at setup, so every iteration's
    # sym.b == labels.v sort-merge join reuses the cached partitioning
    # and ordering instead of re-shuffling + re-sorting the edge list
    # (the big side at scale) each round. The explicit repartition
    # replaces distinct()'s implicit (a,b) exchange rather than adding
    # one — hashpartitioning(b) co-locates equal (a,b) rows, so the
    # dedup HashAggregate rides the same exchange.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition("b")
        .distinct()
        .sortWithinPartitions("b")
        .persist()
    )
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn("label", F.col("v"))
    prev: DataFrame | None = None  # previous round's checkpointed labels
    changed = 0
    for _ in range(max_iterations):
        new_labels = _propagate_round(sym, labels).localCheckpoint(
            eager=True
        )  # materialize + truncate lineage
        # a plain count, not limit(1)/isEmpty/first/take: Spark names
        # each planned limit's counter from a JVM-wide sequence, so every
        # round would generate (and cache) new code
        changed = new_labels.where("chg").count()
        if prev is not None:
            # new_labels' lineage was truncated, so releasing the previous
            # checkpoint cannot orphan any downstream recompute path.
            # RDD-level release (r13): Dataset.unpersist() is a no-op on
            # localCheckpoint blocks — it deferred every round's blocks
            # to GC + ContextCleaner, letting the whole round history
            # coexist in the storage pool.
            release_local_checkpoint(prev)
        prev = new_labels
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    sym.unpersist()
    # The final labels' checkpoint cache must outlive this call (the
    # caller's action consumes it, and a truncated-lineage checkpoint
    # cannot recompute if released early), so it is registered for the
    # REGISTRY-BOUNDARY sweep (r13 — previously it was reclaimed only
    # on session stop, one leaked (vertex, label) cache per invocation
    # in a long-lived session). The boundary contract already forbids
    # re-running actions on a stale handle across a sweep (see
    # release_transient_persists); for a released localCheckpoint a
    # violation fails loudly (no lineage) rather than drifting.
    if prev is not None:
        track_transient(prev)
    if changed:
        warnings.warn(
            f"connected_components did not converge within {max_iterations} "
            "iterations; returned components may still be split. Increase "
            "max_iterations (rounds needed = graph diameter).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))


def _propagate_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: every vertex adopts min(own
    label, neighbors' labels). Returns (v, label, chg) pre-checkpoint.

    Computed as ONE aggregation over (neighbor candidates ∪ own row)
    instead of the classic groupBy-then-left-join-back merge (r15: that
    shape cost a second shuffle of the labels table plus a whole
    SortMergeJoin per round — labels return from localCheckpoint with
    UnknownPartitioning, so every labels reference re-shuffles). The own
    row is tagged so the same aggregate recovers the previous label, and
    the change flag (labels only ever decrease) falls out as
    new < previous — the convergence probe stays a cheap scan of the
    just-materialized cache. With ``sym`` persisted hash-partitioned and
    sorted by ``b`` (see connected_components), the round's plan is one
    join with no exchange or sort on the edge-list side plus the single
    groupBy exchange that IS the propagation step."""
    cand = sym.join(labels, sym["b"] == labels["v"]).select(
        F.col("a").alias("v"), "label", F.lit(False).alias("own")
    )
    return (
        cand.unionByName(labels.withColumn("own", F.lit(True)))
        .groupBy("v")
        .agg(
            F.min("label").alias("new_label"),
            F.min(F.when(F.col("own"), F.col("label"))).alias("prev_label"),
        )
        .select(
            "v",
            F.col("new_label").alias("label"),
            (F.col("new_label") < F.col("prev_label")).alias("chg"),
        )
    )

