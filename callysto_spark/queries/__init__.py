"""Query registry: the single source of truth for the engine's declared
operator/query surface.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for ops that are
not SQL-expressible — the driver then records a weaker rows-only check).
``__spark_entry__.queries()`` / ``oracle_sql()``, the pytest oracle
harness, and ``bench.py`` all iterate this registry, so the three can
never drift apart.

Determinism rules for oracle-matched queries (the driver hash-compares
values):
- every double derived from float accumulation is ``round()``-ed in BOTH
  implementations (parallel summation order is not bit-stable);
- doubles derived from integer division (ratios of counts) are left
  unrounded — IEEE division of identical ints is bit-identical;
- every top-k / limit has a total tie-break order;
- aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = field(default=False)  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = "", bench: bool = False):
    """Decorator: add a query to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        from callysto_spark.functions.compat import rewrite_oracle_fixed, rewrite_oracle_round

        sql = rewrite_oracle_round(rewrite_oracle_fixed(oracle)) if oracle else oracle

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the PREVIOUS query's transient operator caches
            # (dedup shingle/banded tables etc.) so a long-lived session
            # running many registry queries holds at most one query's
            # worth of transient storage. Safe: those caches are
            # recompute-able persists, never truncated checkpoints.
            from callysto_spark.operators.util import release_transient_persists

            release_transient_persists()
            return fn(spark, sf_dir)

        functools.wraps(fn)(wrapped)
        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=sql, doc=doc or (fn.__doc__ or ""), bench=bench)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return REGISTRY.

    Registry ORDER is deliberate: the correctness driver samples the FIRST
    50 entries in iteration order. The head is ``promoted`` (the rows
    whose newest green driver result is the oldest), then every
    ``bench=True`` row not already in it, then the always-sampled
    LLM-ops rows, so no row goes more than 2 rounds without a green
    result and every bench row is certified each round. The
    ``ValueError`` guards below keep the head at exactly 50 registered,
    distinct names with every bench row inside it.
    """
    from callysto_spark.queries import llm_ops, tpch2, tpch3, tpch4, events, arrays, messages, tpch  # noqa: F401

    promoted = [
        "doc_lsh_verified_near_dups",
        "doc_minhash_lsh_pairs",
        "doc_near_dup_survivor_stats",
        "doc_ngram_jaccard_pairs",
        "doc_stratified_sample",
        "emb_cosine_topk_blas",
        "emb_ivf_assign",
        "emb_ivf_assign_blas",
        "emb_label_near_pairs",
        "argmax_order_per_nation",
        "customer_balance_distribution",
        "doc_bpe_token_stats",
        "doc_lang_scores",
        "doc_quality_score",
        "doc_simhash",
        "orders_price_range_frame",
        "price_quartiles_by_segment",
        "q10_returned_items",
        "q11_important_parts",
        "q12_priority_by_bracket",
        "q13_customer_order_distribution",
        "q14_promo_share",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q18_large_orders",
        "q19_bracket_revenue",
        "q21_waiting_suppliers",
        "q22_idle_rich_customers",
        "q2_cheapest_supplier",
        "q4_priority_with_discounted_lines",
        "q7_bilateral_volume",
        "q8_market_share",
        "q9_profit_by_nation_year",
        "scalar_subquery_vs_max",
        "setop_all_variants",
        "shipping_delay_histogram",
        "suppliers_many_parts",
    ]
    # North-star LLM-ops rows kept in the always-sampled head.
    llm_kept = [
        "doc_ngram_jaccard_capped",
        "doc_near_dup_components",
        "doc_token_stats",
        "doc_pipeline_clean_corpus",
        "emb_ivf_topk",
    ]
    # Bench rows not already covered by promoted/llm_kept — derived, so
    # no hand-kept list can drop one.
    covered = set(promoted) | set(llm_kept)
    watch = [n for n, q in REGISTRY.items() if q.bench and n not in covered]
    head = promoted + watch + llm_kept
    # ValueError, not assert: these guard the driver-sample window and
    # must survive python -O (a stripped assert would silently ship a
    # mis-sized window and drop queries out of the first-50 sample)
    missing = [n for n in head if n not in REGISTRY]
    if missing:
        raise ValueError(f"promoted queries not in registry: {missing}")
    if len(set(head)) != len(head):
        raise ValueError("head window contains duplicate names")
    if len(head) != 50:
        raise ValueError(
            f"head window must be exactly 50 names (the driver's sample "
            f"size); got {len(head)} — adjust the promoted list so "
            f"promoted+derived_watch+llm_kept lands on 50"
        )
    head_set = set(head)
    bench_out = [n for n, q in REGISTRY.items() if q.bench and n not in head_set]
    if bench_out:
        raise ValueError(f"bench=True rows outside the first-50 window: {bench_out}")
    names = list(REGISTRY)
    order = head + [n for n in names if n not in head]
    reordered = {n: REGISTRY[n] for n in order}
    REGISTRY.clear()
    REGISTRY.update(reordered)
    return REGISTRY
