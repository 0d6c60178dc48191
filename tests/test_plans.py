"""Plan-shape contracts for the headline queries: what must hold for the
same code to be efficient at 100 TB (SURVEY.md 'optimize for scale').
"""

from __future__ import annotations

import difflib
from pathlib import Path

import pytest

from callysto_spark.plans import (
    broadcast_join_count,
    codegen_stage_count,
    exchange_count,
    pushed_filters,
)
from callysto_spark.queries import load_all
from tools.opt_measure import plan_summary

REGISTRY = load_all()
# One plan-shape summary line per registry query at sf0.001; regenerate
# with `tools/opt_measure.py plans --all` when a plan change is intended.
PLAN_LEDGER = Path(__file__).with_name("plan_ledger.txt")


def q(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = q("q1_pricing_summary", spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), f"shipdate filter not pushed: {pf}"
    assert codegen_stage_count(df) >= 1


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = q("q6_forecast_revenue", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    # pure scan→agg: the only exchange is the single-partition final agg
    assert exchange_count(df) <= 1


def test_q5_dims_broadcast(spark, sf_dir):
    df = q("q5_supplier_volume", spark, sf_dir)
    assert broadcast_join_count(df) >= 2, "nation/region/supplier joins must broadcast"
    assert any("o_orderdate" in f for f in pushed_filters(df)), "date filter must push to orders scan"


def test_q3_selective_dim_broadcast(spark, sf_dir):
    df = q("q3_shipping_priority", spark, sf_dir)
    assert broadcast_join_count(df) >= 1, "filtered customer side must broadcast"


def test_top_k_single_shuffle(spark, sf_dir):
    df = q("top3_orders_per_customer", spark, sf_dir)
    assert exchange_count(df) == 1, "top-k per group must be exactly one shuffle on the group key"


def test_asof_join_single_shuffle(spark, sf_dir):
    df = q("events_asof_purchase_click", spark, sf_dir)
    # union-sort as-of: one hash exchange on user_id feeds the window;
    # no nested-loop / cartesian anywhere
    from callysto_spark.plans import physical_plan

    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert exchange_count(df) <= 2


def test_sessionize_shares_shuffle(spark, sf_dir):
    df = q("events_sessionize", spark, sf_dir)
    # window on user_id + groupBy (user_id, session_id): the groupBy can
    # reuse the window's hash partitioning on user_id (no extra exchange)
    assert exchange_count(df) <= 1, "sessionize agg should reuse the window partitioning"


def test_cosine_topk_no_cartesian_blowup(spark, sf_dir):
    df = q("emb_cosine_topk", spark, sf_dir)
    from callysto_spark.plans import physical_plan

    plan = physical_plan(df)
    # query side must broadcast (tiny); corpus side stays partitioned
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# Intentional broadcast nested-loop joins: a tiny broadcast side crossed
# onto the fact (scalar subqueries, broadcast query vectors). Anything
# else showing a BNLJ is an unintended plan regression.
BNLJ_ALLOWED = {
    "emb_cosine_topk",  # broadcast query vectors × corpus (scored scan)
    "emb_cosine_topk_blas",  # embeds the expr twin's broadcast scan
    "q22_idle_rich_customers",  # broadcast 1-row avg × customer
    "q15_top_supplier",  # broadcast 1-row max × revenue (may plan as BHJ)
    "q11_important_parts",  # broadcast 1-row global total × per-part agg
}


def test_registry_wide_plan_sweep(spark, sf_dir):
    """Every registered query, every round: no CartesianProduct
    anywhere, and broadcast nested-loop joins only where a tiny
    broadcast side is the intended plan. Catches scale-killer
    regressions in queries that have no dedicated plan test. Every
    plan's shape summary must also match the committed ledger, so any
    plan change shows up as a reviewed ledger diff."""
    from callysto_spark.plans import physical_plan

    failures = []
    summaries = []
    for name in sorted(REGISTRY):
        plan = physical_plan(REGISTRY[name].fn(spark, sf_dir))
        summaries.append(f"{name}: {plan_summary(plan)}")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        # the "zero row-at-a-time Python UDFs" claim as a standing plan
        # gate, not a grep: pickled per-row UDFs plan as BatchEvalPython;
        # the allowed Python seams (arrow_udf scalar kernels, mapInPandas
        # codecs/BLAS) plan as ArrowEvalPython / MapInPandas /
        # FlatMapGroupsInPandas and are ~10-100x faster per row
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
    assert not failures, failures
    diff = difflib.unified_diff(
        PLAN_LEDGER.read_text().splitlines(), summaries,
        "tests/plan_ledger.txt", "current plans", n=0, lineterm="",
    )
    changed = "\n".join(diff)
    assert not changed, f"plan shapes differ from the ledger:\n{changed}"


def test_scan_read_schemas_handles_nested_types(spark, sf_dir):
    """The ReadSchema parser must survive nested column types: an
    array<float> column contains '>' and ',' itself, so a lazy regex +
    raw comma split silently dropped every column after the first
    nested one — undercounting exactly the wide Arrow/mapInPandas
    tables the pruning sweep exists to audit (r9 review finding)."""
    from callysto_spark.plans.audit import scan_read_schemas

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    [(table, cols)] = scan_read_schemas(e.select("vec_id", "embedding", "label"))
    assert table == "embeddings" and cols == ["vec_id", "embedding", "label"]
    [(_, pruned)] = scan_read_schemas(e.select("vec_id"))
    assert pruned == ["vec_id"]


def test_registry_wide_column_pruning_sweep(spark, sf_dir):
    """Column pruning must reach EVERY parquet scan of a wide table:
    no registry query may read all columns of a table wider than 3
    (measured r9: zero full-width scans across all 87 plans — this
    pins it). A full-width scan means an opaque barrier (mapInPandas
    over full rows, select('*') through a UDF) blocked pruning — at
    100 TB that's reading 11 lineitem columns for a 2-column query."""
    from callysto_spark.plans.audit import scan_read_schemas

    widths = {}
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        widths[t] = len(spark.read.parquet(f"{sf_dir}/{t}.parquet").columns)
    failures = []
    for name in sorted(REGISTRY):
        for table, cols in scan_read_schemas(REGISTRY[name].fn(spark, sf_dir)):
            w = widths.get(table)
            if w and w > 3 and len(cols) >= w:
                failures.append(f"{name}: full-width scan of {table} ({len(cols)}/{w} cols)")
    assert not failures, failures


def test_deciles_no_global_window_funnel(spark, sf_dir):
    """user_spend_deciles must not funnel the per-user aggregate through
    one task: the data path range-partitions; the only SinglePartition
    exchange allowed is the ~num_partitions-row offsets branch."""
    from callysto_spark.plans import physical_plan

    df = q("user_spend_deciles", spark, sf_dir)
    plan = physical_plan(df)
    assert "rangepartitioning" in plan.lower(), "data path must range-partition on the order keys"
    assert plan.count("Exchange SinglePartition") <= 1, (
        "only the tiny per-partition-counts branch may single-partition"
    )
    # The ranged table must be read from ONE materialization (persist →
    # InMemory scan) by BOTH the local-row_number branch and the counts
    # branch. Two independently compiled range exchanges re-SAMPLE
    # boundaries, and sampling is not stable when the upstream
    # hash-agg's row order varies — the sf1 oracle run caught ~8% of
    # ntile assignments off by one bucket, nondeterministically
    # (global_rank docstring). Dropping the persist reintroduces that.
    assert plan.lower().count("inmemorytablescan") >= 2, (
        "both global_rank branches must scan the persisted ranged table"
    )
    assert plan.lower().count("rangepartitioning") <= plan.lower().count("inmemory") + 1, (
        "a second range exchange means a branch recomputes its own boundaries"
    )


def test_jaccard_capped_prunes_candidate_pairs(spark, sf_dir):
    """The stop-shingle cap must strictly reduce candidate pairs vs the
    uncapped self-join (the near-linear-at-scale contract)."""
    from callysto_spark.operators.dedup import shingle_arrays
    from callysto_spark.tables import load as load_tables
    from pyspark.sql import functions as F

    d = load_tables(spark, sf_dir, "documents")["documents"]
    sh = shingle_arrays(d, "doc_id", "text", 4).select("doc", F.explode("gs").alias("g"))
    freq = sh.groupBy("g").agg(F.count("*").alias("df_"))
    stats = freq.agg(
        F.sum(F.col("df_") * (F.col("df_") - 1) / 2).alias("p"), F.max("df_").alias("mx")
    ).collect()[0]
    uncapped, max_df = stats["p"], stats["mx"]
    # cap just under the hottest shingle — guarantees pruning at any SF
    # (the registered query's absolute cap of 20 bites at sf0.01+)
    capped = (
        freq.filter(F.col("df_") <= max_df - 1)
        .agg(F.sum(F.col("df_") * (F.col("df_") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    ) or 0
    assert capped < uncapped, "cap must drop hot-shingle pair work"


def test_jaccard_capped_plan_df_bounded(spark, sf_dir):
    """The capped path generates pairs in-row from collect_list buckets
    whose membership is df-bounded BEFORE aggregation (round-7 verdict
    finding #1): the only join anywhere is the left-semi df-prefilter,
    the collect_list aggregate consumes that semi-join's output (so no
    aggregation buffer ever holds an over-cap stop-shingle bucket), and
    the exchange budget stays bounded (parallelize repartition, df
    count, semi-join/bucket agg, pair agg) — the shape that stays
    near-linear AND memory-bounded at 100 TB."""
    from callysto_spark.plans import exchange_count, physical_plan
    from callysto_spark.plans.audit import _walk_logical

    df = q("doc_ngram_jaccard_capped", spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    n_ex = exchange_count(df)
    assert n_ex <= 5, f"expected <=5 exchanges, saw {n_ex}:\n{plan}"
    opt = df._jdf.queryExecution().optimizedPlan()
    joins = [n for n in _walk_logical(opt) if n.getClass().getSimpleName() == "Join"]
    assert joins, "df-prefilter semi join missing — one-pass collect_list regressed"
    bad = [j.joinType().toString() for j in joins if j.joinType().toString() != "LeftSemi"]
    assert not bad, f"capped Jaccard may only semi-join the df prefilter; saw {bad}"
    aggs = [
        n
        for n in _walk_logical(opt)
        # simpleString = THIS node only (toString prints the subtree,
        # matching the pair-count aggregate above as well)
        if n.getClass().getSimpleName() == "Aggregate" and "collect_list" in n.simpleString(100)
    ]
    assert len(aggs) == 1, f"expected exactly one collect_list aggregate, saw {len(aggs)}"
    below = {c.getClass().getSimpleName() for c in _walk_logical(aggs[0])}
    assert "Join" in below, "collect_list input is NOT df-bounded (semi join not below the agg)"


def test_minhash_signatures_no_hash_exchange(spark, sf_dir):
    """Signatures are computed in-row (array_min over per-permutation
    transforms): no hash-partition exchange anywhere — the signature
    stage must stay a narrow map at any corpus size (only the
    small-input parallelize repartition is allowed)."""
    from callysto_spark.operators.dedup import minhash_signatures
    from callysto_spark.plans import physical_plan
    from callysto_spark.tables import load as load_tables

    d = load_tables(spark, sf_dir, "documents")["documents"]
    plan = physical_plan(minhash_signatures(d, "doc_id", "text", num_hashes=16, n=4))
    assert "hashpartitioning" not in plan.lower(), plan
    assert "Window" not in plan, "no window in the shingle pipeline"


def test_lsh_banding_capped_plan_shape(spark, sf_dir):
    """The REGISTERED LSH rows run max_bucket_freq (r8 verdict item 4 —
    the driver-exercised configuration is the 100 TB one), so the plan
    must show the two-pass cap, not a post-hoc filter: the bucket
    self-join's inputs pass through a left-semi df-prefilter (hot
    buckets dropped streaming through the probe, never paired), and
    the only non-semi join is the final inner bucket self-join. No
    Cartesian/nested-loop anywhere."""
    from callysto_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from callysto_spark.plans import physical_plan
    from callysto_spark.plans.audit import _walk_logical
    from callysto_spark.tables import load as load_tables

    d = load_tables(spark, sf_dir, "documents")["documents"]
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=64, n=4)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4, max_bucket_freq=64)
    plan = physical_plan(cands)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    opt = cands._jdf.queryExecution().optimizedPlan()
    joins = [n.joinType().toString() for n in _walk_logical(opt) if n.getClass().getSimpleName() == "Join"]
    assert joins.count("LeftSemi") >= 2, (
        f"expected a semi-join df-prefilter under BOTH sides of the bucket self-join; saw {joins}"
    )
    assert [j for j in joins if j != "LeftSemi"] == ["Inner"], (
        f"only the bucket self-join may be non-semi; saw {joins}"
    )


def test_winnow_operator_no_shuffle(spark, sf_dir):
    """Winnowing fingerprints are computed fully in-row: the operator's
    plan has no window and no hash-partition exchange (only the
    small-input parallelize repartition is allowed) — a narrow map at
    any corpus size."""
    from callysto_spark.operators.text import winnow_fingerprints
    from callysto_spark.plans import physical_plan
    from callysto_spark.tables import load as load_tables

    d = load_tables(spark, sf_dir, "documents")["documents"]
    plan = physical_plan(winnow_fingerprints(d, "doc_id", "text", k=3, w=4))
    assert "Window" not in plan
    assert "hashpartitioning" not in plan.lower(), plan


def test_q21_decorrelated_no_correlated_rescan(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS must stay decorrelated: the supplier dim
    broadcasts, and the plan contains no cartesian/nested-loop join (the
    shape a correlated rewrite degenerates to). Exchange budget: late-set
    build + distinct member count + final agg/sort — the expensive
    lineitem x orders join happens once, not once per EXISTS."""
    df = q("q21_waiting_suppliers", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 1, "supplier dim must broadcast"
    assert exchange_count(df) <= 6, f"decorrelated q21 grew extra shuffles:\n{plan}"


def test_supplier_daily_running_single_exchange(spark, sf_dir):
    """Agg + window must ride ONE l_suppkey exchange (rows-per-group ~1
    in this schema, so partial aggregation buys nothing — see the query
    docstring)."""
    df = q("supplier_daily_running", spark, sf_dir)
    assert exchange_count(df) <= 1, "agg+window should share the suppkey exchange"


def test_quantile_sketch_plan_broadcasts_and_bounds(spark, sf_dir):
    """events_value_quantile_sketch joins three tiny per-group branches
    (quantiles / KMV users / counts): both joins must broadcast (never
    SMJ — each side is ≤ n_groups rows), and BOTH sketch branches must
    carry map-side WindowGroupLimit prunes (Partial + Final each) so no
    exchange ships more than k rows per map partition. The sample
    branch's k=1024 exceeds Spark's default windowGroupLimitThreshold
    of 1000 — session.py raises it; this test pins that the conf stays
    effective."""
    import re

    df = q("events_value_quantile_sketch", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_bhj = sum(1 for l in plan.splitlines() if "BroadcastHashJoin [" in l)
    n_wgl = len(re.findall(r"WindowGroupLimit \[", plan))
    assert n_bhj == 2, f"{n_bhj} broadcast joins:\n{plan}"
    assert "SortMergeJoin" not in plan, plan
    assert n_wgl == 4, (
        f"expected Partial+Final rank-limit prunes in both sketch "
        f"branches, found {n_wgl}:\n{plan}"
    )
