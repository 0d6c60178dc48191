"""Spec-defined sketches (operators/sketches.py): KMV distinct-count,
bottom-k uniform sample + type-1 quantiles — estimator accuracy,
exact-small-group regime, mergeability, plan shape — plus the
engine-native HLL/GK variant's error bounds (it left the registry when
approx_distinct_parts moved to the hash-checkable KMV; the production
sketch path stays covered here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from callysto_spark.operators.dedup import string_hash
from callysto_spark.operators.sketches import (
    HASH_SPACE,
    _bounded_topk,
    bottom_k_sample,
    kmv_distinct,
    type1_quantiles,
)
from callysto_spark.tables import load


def test_kmv_sketch_regime_error_bound(spark):
    """5000 distinct keys through a k=256 sketch: estimate within 4
    standard errors (4/sqrt(k-2) ≈ 25%) — deterministic, not flaky:
    the hash is fixed, so this pins one concrete draw forever."""
    df = spark.range(5000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key")
    )
    out = kmv_distinct(df, ["g"], F.col("key"), k=256, out="est").first()
    assert out["est_k"] == 256
    assert out["est_kth_hash"] is not None
    assert abs(out["est"] - 5000) / 5000 < 0.25, out["est"]


def test_kmv_exact_regime(spark, sf_dir):
    """Groups with fewer than k distinct keys report the EXACT count
    (kth hash NULL = sketch never engaged)."""
    e = load(spark, sf_dir, "events")["events"]
    exact = {
        r["event_type"]: r["d"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    got = kmv_distinct(
        e, ["event_type"], F.col("user_id").cast("string"), k=256, out="u"
    ).collect()
    for r in got:
        if r["u_k"] < 256:
            assert r["u"] == exact[r["event_type"]]
            assert r["u_kth_hash"] is None


def test_kmv_mergeable(spark):
    """KMV's defining property: sketch(A ∪ B) = merge(sketch(A),
    sketch(B)) where merge = k smallest of the union of survivors. The
    100 TB story — per-day sketches union into a monthly estimate
    without re-scanning — depends on exactly this."""
    df = spark.range(4000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key")
    )
    a = df.filter(F.col("id") < 2500)  # overlapping halves
    b = df.filter(F.col("id") >= 1500)
    whole = kmv_distinct(df, ["g"], F.col("key"), k=128, out="est").first()

    def survivors(part):
        dh = part.select("g", F.col("key")).select(
            "g",
            string_hash(F.col("key")).alias("__h"),
        ).distinct()
        return _bounded_topk(dh, ["g"], "__h", 128)

    merged = _bounded_topk(
        survivors(a).union(survivors(b)).distinct(), ["g"], "__h", 128
    )
    kth = merged.groupBy("g").agg(F.max("__h").alias("h"), F.count(F.lit(1)).alias("k")).first()
    assert kth["k"] == 128
    assert kth["h"] == whole["est_kth_hash"]
    import math

    assert math.floor(127 * HASH_SPACE / kth["h"]) == whole["est"]


def test_bottom_k_sample_quantile_accuracy(spark, sf_dir):
    """Sample quantiles vs exact: with k=1024 over the events table the
    type-1 sample p50/p90 must land within 10% relative error of the
    exact percentile (deterministic draw — fixed hash)."""
    e = load(spark, sf_dir, "events")["events"]
    samp = bottom_k_sample(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        F.col("event_id").cast("string"),
        k=1024,
    )
    q = type1_quantiles(
        samp, ["event_type"], "value", [("p50", 1, 2), ("p90", 9, 10)]
    ).collect()
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
        )
        .collect()
    }
    assert len(q) > 0
    for r in q:
        ex = exact[r["event_type"]]
        assert abs(r["p50"] - ex["p50"]) / max(ex["p50"], 1e-9) < 0.10
        assert abs(r["p90"] - ex["p90"]) / max(ex["p90"], 1e-9) < 0.10


def test_bottom_k_sample_is_true_subset_and_bounded(spark, sf_dir):
    e = load(spark, sf_dir, "events")["events"]
    per_type = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    samp = bottom_k_sample(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        F.col("event_id").cast("string"),
        k=64,
    )
    got = {
        r["event_type"]: r["n"]
        for r in samp.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for t, n in per_type.items():
        assert got[t] == min(n, 64)
    # sampled values exist in the source (anti-join must be empty)
    assert (
        samp.select("event_type", "event_id").exceptAll(
            e.select("event_type", "event_id")
        ).count()
        == 0
    )


def test_kmv_plan_bounded_exchanges(spark, sf_dir):
    """The bounded top-k must cost at most 2 exchanges (distinct +
    per-group rank) AND the optimizer must turn the row_number<=k
    filter into a map-side WindowGroupLimit Partial — the prune that
    keeps a 1e9-distinct-keys group off a single reducer. If a Spark
    upgrade ever drops InferWindowGroupLimit coverage here, this fails
    and _bounded_topk needs an explicit per-partition prune again."""
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    df = kmv_distinct(li, ["l_returnflag"], F.col("l_partkey").cast("string"), k=256)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange")
    assert n_ex <= 2, f"{n_ex} exchanges:\n{plan}"
    assert "CollectLimit" not in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        f"map-side rank-limit pushdown missing:\n{plan}"
    )


def test_hll_gk_variant_error_bounds(spark, sf_dir):
    """The engine-native production variant (HLL++ / GK / DataSketches
    HLL union): rsd=0.01 HLL within 5% of exact, GK median within the
    exact p40–p60 band. These are the sketches the registry query
    traded for hash-checkability; their accuracy contract lives here."""
    from callysto_spark.queries.tpch import approx_distinct_parts_hll

    got = {r["l_returnflag"]: r for r in approx_distinct_parts_hll(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d"),
            F.expr("percentile(l_extendedprice, 0.4)").alias("p40"),
            F.expr("percentile(l_extendedprice, 0.6)").alias("p60"),
        )
        .collect()
    }
    for flag, r in got.items():
        ex = exact[flag]
        assert abs(r["approx_parts"] - ex["d"]) / ex["d"] < 0.05
        assert abs(r["hll_estimate"] - ex["d"]) / ex["d"] < 0.05
        assert ex["p40"] <= r["approx_median_price"] <= ex["p60"]


def test_kmv_and_sample_match_pure_python_reference(spark, sf_dir):
    """Third independent implementation (hashlib + the sketch
    definitions, no Spark, no DuckDB): recompute the KMV estimate and
    the bottom-k sample quantiles for the events table in pure Python
    and require bit-identical agreement with the Spark operators — the
    same triangulation the MinHash/SimHash/LSH pipeline carries."""
    import hashlib
    import math

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    e = load(spark, sf_dir, "events")["events"]
    rows = e.select("event_type", "event_id", "user_id", "value").collect()

    # --- KMV distinct users per type (k=256) ---
    by_type: dict[str, set[int]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], set()).add(h60(str(r["user_id"])))
    expect_kmv = {}
    for t, hs in by_type.items():
        top = sorted(hs)[:256]
        if len(top) < 256:
            expect_kmv[t] = len(top)
        else:
            expect_kmv[t] = math.floor(255 * HASH_SPACE / top[-1])
    got = kmv_distinct(
        e, ["event_type"], F.col("user_id").cast("string"), k=256, out="u"
    ).collect()
    assert {r["event_type"]: r["u"] for r in got} == expect_kmv

    # --- bottom-1024 sample p50/p90 per type ---
    samp_by_type: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        samp_by_type.setdefault(r["event_type"], []).append(
            (h60(str(r["event_id"])), r["value"])
        )
    expect_q = {}
    for t, hv in samp_by_type.items():
        vals = sorted(v for _, v in sorted(hv)[:1024])
        m = len(vals)
        expect_q[t] = (
            vals[(1 * m + 1) // 2 - 1],  # ceil(m/2)-th, 1-indexed
            vals[(9 * m + 9) // 10 - 1],
        )
    samp = bottom_k_sample(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        F.col("event_id").cast("string"),
        k=1024,
    )
    q = type1_quantiles(samp, ["event_type"], "value", [("p50", 1, 2), ("p90", 9, 10)])
    assert {r["event_type"]: (r["p50"], r["p90"]) for r in q.collect()} == expect_q


def test_sketch_oracle_agrees_on_null_hazards(spark, tmp_path):
    """The pinned testdata has no NULL event_id/user_id/value, so the
    driver gate alone would never catch a NULLS FIRST/LAST divergence
    between the sketch operators (Spark windows rank NULLS FIRST) and
    their oracle (DuckDB ORDER BY ranks NULLS LAST). Plant all three
    NULL hazards in a synthetic events table and require bit-exact
    cross-engine agreement on the full registry query."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from callysto_spark.queries import load_all

    rows = [
        # (event_id, user_id, event_type, value)
        (None, 1, "click", 5.0),    # NULL sample key
        (2, None, "click", 1.0),    # NULL user (KMV key)
        (3, 1, "click", None),      # NULL value in the sample
        (4, 2, "click", 30.0),
        (5, 2, "click", 70.0),
        (6, 3, "click", 40.0),
        (7, 3, "view", 9.0),
        (8, None, "view", None),    # NULL user AND value
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [datetime(2026, 1, 1, 0, 0, i) for i in range(len(rows))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = load_all()["events_value_quantile_sketch"]
    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    assert got == want, f"spark={got}\noracle={want}"
    # the NULL rows must be excluded, not ranked: 'click' has 4 non-null
    # sampled values, 'view' has 1
    by_type = {r[0]: r for r in got}
    assert by_type["click"][4] == 3  # kmv_users: NULL user ignored
    assert by_type["view"][1] == 9.0  # p50 of the single non-null value


def test_bounded_topk_tiebreak_is_total_order(spark):
    """A hash tie straddling the rank-k boundary must not let physical
    row order pick the survivor: with a tiebreak, the surviving row SET
    is a pure function of the data."""
    import pandas as pd

    # three rows tie on h=5 at the k=2 boundary; tiebreak column decides
    pdf = pd.DataFrame(
        {"g": ["a"] * 4, "h": [1, 5, 5, 5], "t": ["z", "c", "b", "d"]}
    )
    for _ in range(3):  # repartition shuffles physical order between runs
        df = spark.createDataFrame(pdf).repartition(5)
        out = _bounded_topk(df, ["g"], "h", 2, tiebreak=[F.col("t").asc()])
        assert sorted((r["h"], r["t"]) for r in out.collect()) == [(1, "z"), (5, "b")]


def test_kmv_global_group_plan_bounded(spark, sf_dir):
    """The scaling bench's worst-case shape: ONE global group (constant
    group key). Catalyst folds the constant out of the window's
    partition spec, so InferWindowGroupLimit does NOT fire here —
    instead the global row_number<=k filter must become a
    TakeOrderedAndProject(limit=k): per-partition top-k, then a
    single-partition merge fed k rows per map partition. If a Spark
    upgrade loses that rewrite, the plan degrades to an UNBOUNDED
    global sort on one reducer (all distinct keys into one task) — the
    exact concentration the r9 verdict told us to rule out — and this
    pin fails before SCALING.md finds out the slow way."""
    from callysto_spark.operators.dedup import shingle_arrays

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = shingle_arrays(d, "doc_id", "text", n=4).select("doc", F.explode("gs").alias("g"))
    df = kmv_distinct(
        sh.select(F.lit("all").alias("scope"), "g"), ["scope"], F.col("g"), k=256
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=256" in plan, (
        f"global bounded top-k rewrite missing — single-reducer sort risk:\n{plan}"
    )
    # and the estimator still computes on the bounded survivor set
    assert df.count() == 1
