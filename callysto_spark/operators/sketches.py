"""Spec-defined, cross-engine-reproducible sketches.

Spark's built-in sketch aggregates (``approx_count_distinct`` HLL++,
``percentile_approx`` Greenwald-Khanna, DataSketches HLL) are the right
production tools at 100 TB, but their outputs are engine-specific: no
other SQL engine can recompute them bit-for-bit, so queries built on
them can never be hash-checked against a DuckDB oracle. This module
provides the portable twins — classic sketches whose definition is a
pure function of the data and the ``md5_60`` spec hash
(operators/dedup.py), so DuckDB reproduces every output bit:

- **KMV (k-minimum-values) distinct-count sketch** [Bar-Yossef et al.,
  RANDOM'02; Beyer et al., SIGMOD'07 "unbiased" (k-1)/F(h_k) estimator].
  Keep the k smallest hash values of the key set per group; if fewer
  than k survive the count is exact, else estimate (k-1) * 2^60 / h_k.
  Mergeable: union two sketches = k smallest of the union.
- **Bottom-k uniform sample** [Rosen'72 order sampling; the same
  structure as KMV]. The k rows whose key-hash is smallest form a
  deterministic uniform-without-replacement sample per group —
  mergeable the same way — over which exact order statistics (type-1
  quantiles: value at rank ceil(p*m)) give reproducible approximate
  percentiles.

Both run as a bounded top-k whose physical plan is two-phase: Spark's
InferWindowGroupLimit rule (3.5+) turns the ``row_number() <= k``
filter into a map-side ``WindowGroupLimit Partial`` BEFORE the
exchange, so each input partition forwards at most k rows and no
reducer ever sorts a full group — the plan shape a hand-written
per-partition prune would produce, with one fewer shuffle (pinned by
tests/test_sketches.py::test_kmv_plan_bounded_exchanges). At 100 TB
with 1e9 distinct keys per group, the per-group reduce input is
k * map partitions, not 1e9. Reference analog: the stats surface of
`/root/reference/callysto/src/prelude.rs` agents computes running
counts/aggregates per key; these sketches are the bounded-memory
equivalents a 100 TB pipeline substitutes for exact distinct/quantile.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from callysto_spark.operators.dedup import spec_hash_sql, string_hash

# 2^60 — the exclusive upper bound of the md5_60 hash range. 255 * 2^60
# is exactly representable as an IEEE double (8-bit mantissa, exponent
# 60), so both engines compute the estimator with identical FP ops.
HASH_SPACE = float(1 << 60)


def _bounded_topk(
    df: DataFrame,
    group: Sequence[str],
    order_col: str,
    k: int,
    tiebreak: Sequence[Column] = (),
) -> DataFrame:
    """Per-group k smallest rows by ``order_col`` (then ``tiebreak``).

    Declared as one window + filter; the optimizer's
    InferWindowGroupLimit turns it into map-side Partial + reduce-side
    Final group limits, so the exchange carries at most k rows per
    (group, map partition) — the two-phase bounded shape, declaratively.

    NULL ``order_col`` rows are dropped here, self-enforcing: engines
    disagree on default NULL placement (Spark windows NULLS FIRST,
    DuckDB ORDER BY NULLS LAST), so a NULL reaching the ranking would
    silently diverge from a SQL oracle. Ties on ``order_col`` fall to
    ``tiebreak``; when
    none is given the k-th boundary row is engine-arbitrary, which is
    safe only when consumers aggregate ``order_col`` itself over a
    tie-free (e.g. distinct) input — kmv_distinct's case. Consumers of
    OTHER row columns (bottom_k_sample feeding quantiles) must pass a
    total-order tiebreak so the surviving row set is unique.
    """
    order = [F.col(order_col).asc(), *tiebreak]
    return (
        df.filter(F.col(order_col).isNotNull())
        .withColumn(
            "__rn", F.row_number().over(Window.partitionBy(*group).orderBy(*order))
        )
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_distinct(
    df: DataFrame,
    group: Sequence[str],
    key: Column,
    k: int = 256,
    out: str = "kmv_distinct",
) -> DataFrame:
    """KMV distinct-count estimate of ``key`` per ``group``.

    Returns one row per group: ``out`` (BIGINT estimate — exact when the
    group has fewer than k distinct hashes), ``{out}_kth_hash`` (the
    sketch's defining statistic, NULL in the exact regime), ``{out}_k``
    (survivor count = min(n_distinct, k)).

    Estimator: floor((k-1) * 2^60 / h_k) — one FP multiply (exact),
    one FP divide, one floor, so any engine hashing the same key set
    lands on the same integer. Relative error ~ 1/sqrt(k-2) (6.3% at
    k=256).

    Keys are hashed with ``md5_60``: the estimator divides by the hash
    range's upper bound (2^60), so a full-signed-range hash like
    ``xxhash64`` would yield negative or astronomically wrong estimates
    (h_k near 0 or below it).

    NULL keys are ignored — ``count(DISTINCT key)`` semantics, and the
    cross-engine-safe choice (a NULL hash would rank NULLS FIRST in a
    Spark window but NULLS LAST in a DuckDB ORDER BY). Deliberate
    deviation from plain GROUP BY: a group whose keys are ALL NULL
    emits NO row (not a 0-count row) — preserving it would cost an
    extra shuffle against the full group list for an edge case; the
    paired oracle (kmv_distinct_sql) omits the group identically.
    """
    from callysto_spark.operators.util import barrier_select

    # __h rides the barrier_select Generate barrier (r15): _bounded_topk's
    # isNotNull guard otherwise pushes below this project and re-evaluates
    # the md5+conv hash per row in the filter as well as the projection
    dh = barrier_select(df, *group, __h=string_hash(key)).distinct()
    topk = _bounded_topk(dh, group, "__h", k)
    kth = F.max("__h")
    est = F.when(F.count(F.lit(1)) < k, F.count(F.lit(1))).otherwise(
        F.floor(F.lit((k - 1) * HASH_SPACE) / kth)
    )
    return topk.groupBy(*group).agg(
        est.cast("long").alias(out),
        F.when(F.count(F.lit(1)) >= k, kth).alias(f"{out}_kth_hash"),
        F.count(F.lit(1)).alias(f"{out}_k"),
    )


def kmv_distinct_sql(
    src: str, group_cols: str, key_expr: str, k: int = 256, out: str = "kmv_distinct"
) -> str:
    """DuckDB oracle computing exactly ``kmv_distinct`` over ``src``
    (a table name or parenthesized subquery). The single-pass
    row_number ranking is the semantic spec the two-phase Spark plan
    must (and does) coincide with."""
    return f"""
WITH __dh AS (
  SELECT DISTINCT {group_cols}, {spec_hash_sql(key_expr)} AS __h FROM {src}
  WHERE ({key_expr}) IS NOT NULL
), __ranked AS (
  SELECT {group_cols}, __h,
         row_number() OVER (PARTITION BY {group_cols} ORDER BY __h) AS __rn
  FROM __dh
)
SELECT {group_cols},
       CAST(CASE WHEN count(*) < {k} THEN count(*)
                 ELSE floor({float(k - 1)} * {float(1 << 60)} / max(__h)) END AS BIGINT)
         AS {out},
       CASE WHEN count(*) >= {k} THEN max(__h) END AS {out}_kth_hash,
       count(*) AS {out}_k
FROM __ranked WHERE __rn <= {k}
GROUP BY {group_cols}
"""


def bottom_k_sample(
    df: DataFrame,
    group: Sequence[str],
    key: Column,
    k: int = 1024,
) -> DataFrame:
    """Deterministic uniform sample: the k rows per group whose
    ``md5_60`` ``key``-hash is smallest (``spec_hash_sql`` recomputes it
    in DuckDB). ``key`` must be row-unique (e.g. a primary key); ties on
    the 60-bit hash (rare but expected at 1e9+ keys) are broken by the
    key itself, so the surviving row SET is a pure function of the data
    even when a collision straddles the rank-k boundary. NULL keys are
    excluded (engines disagree on NULL placement in rankings, and a NULL
    key breaks the row-uniqueness contract anyway). Adds column ``__h``
    (the sample ranks by it); caller drops it."""
    from callysto_spark.operators.util import barrier_select

    # same barrier rationale as kmv_distinct: one hash eval per row
    withh = barrier_select(df, *df.columns, __h=string_hash(key))
    return _bounded_topk(withh, group, "__h", k, tiebreak=[key.asc()])


def type1_quantiles(
    sampled: DataFrame,
    group: Sequence[str],
    value_col: str,
    quantiles: Sequence[tuple[str, int, int]],
) -> DataFrame:
    """Exact type-1 (no-interpolation) quantiles over a (sampled)
    DataFrame: for each ``(name, num, den)`` emit the value at rank
    ceil(num*m/den) of the per-group sort by ``value_col`` (m = group
    row count). Selection, not arithmetic — the output is always an
    actual data value, so engines agree bit-for-bit. The integer-ceil
    rank floor((num*m + den - 1)/den) keeps the rank computation out
    of decimal-vs-double literal territory. NULL values are excluded
    before ranking (SQL percentile convention — and Spark would rank
    them NULLS FIRST where DuckDB ranks NULLS LAST, shifting every
    rank); m counts non-null values only, and a group whose sampled
    values are ALL NULL emits no row (callers joining on the group key
    should left-join if such groups must survive)."""
    w = Window.partitionBy(*group)
    ranked = (
        sampled.filter(F.col(value_col).isNotNull())
        .withColumn("__vrn", F.row_number().over(w.orderBy(value_col)))
        .withColumn("__m", F.count(F.lit(1)).over(w))
    )
    aggs = [
        F.max(
            F.when(
                F.col("__vrn")
                == F.floor((F.lit(num) * F.col("__m") + F.lit(den - 1)) / F.lit(den)),
                F.col(value_col),
            )
        ).alias(name)
        for (name, num, den) in quantiles
    ]
    return ranked.groupBy(*group).agg(*aggs)
