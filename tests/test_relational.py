"""Scale-safe relational operators: global_rank / global_ntile (the
no-single-partition replacements for bare ``Window.orderBy``) and the
short-document shingle edge case under ANSI mode."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from callysto_spark.operators.dedup import shingle_arrays
from callysto_spark.operators.relational import global_ntile, global_rank
from callysto_spark.tables import load


def test_global_rank_matches_window_row_number(spark, sf_dir):
    c = load(spark, sf_dir, "customer")["customer"].select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    expect = {
        r["c_custkey"]: r["rn"]
        for r in c.withColumn("rn", F.row_number().over(Window.orderBy(*order))).collect()
    }
    got = {
        r["c_custkey"]: r["rank"]
        for r in global_rank(c, order, num_partitions=8).collect()
    }
    assert got == expect


def test_global_ntile_matches_window_ntile(spark, sf_dir):
    c = load(spark, sf_dir, "customer")["customer"].select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    for k in (3, 10, 7):
        expect = {
            r["c_custkey"]: r["b"]
            for r in c.withColumn("b", F.ntile(k).over(Window.orderBy(*order))).collect()
        }
        got = {
            r["c_custkey"]: r["bucket"]
            for r in global_ntile(c, order, k, num_partitions=8).collect()
        }
        assert got == expect, f"ntile({k}) mismatch"


def test_global_ntile_more_buckets_than_rows(spark):
    df = spark.range(4).select(F.col("id"))
    got = {
        r["id"]: r["bucket"]
        for r in global_ntile(df, [F.col("id")], 10, num_partitions=3).collect()
    }
    # N < k: each row gets its own bucket, in order — exact ntile semantics
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}


def test_global_ntile_property_random_data(spark):
    """Property check across sizes, bucket counts and duplicate-heavy
    value distributions: global_ntile must equal window ntile exactly
    (ties broken by the id column in both)."""
    import random

    rng = random.Random(1234)
    for trial in range(4):
        n = rng.choice([1, 7, 64, 257])
        k = rng.choice([2, 5, 10, 16])
        rows = [(i, rng.choice([0.0, 1.5, 2.5, rng.random() * 10])) for i in range(n)]
        df = spark.createDataFrame(rows, ["id", "v"]).repartition(5)
        order = [F.col("v").desc(), F.col("id")]
        expect = {
            r["id"]: r["b"]
            for r in df.withColumn("b", F.ntile(k).over(Window.orderBy(*order))).collect()
        }
        got = {
            r["id"]: r["bucket"]
            for r in global_ntile(df, order, k, num_partitions=4).collect()
        }
        assert got == expect, f"trial {trial}: n={n} k={k}"


def test_connected_components_hand_graph(spark):
    """Chain + triangle + isolated pair: every vertex must converge to
    the component's minimum id, including chains longer than one
    propagation round."""
    from callysto_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter > 1 round), triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (21, 20)],
        ["src", "dst"],
    ).repartition(4)
    got = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_bounded_lineage_and_convergence_warning(spark):
    """Long path graph: (a) the returned DataFrame's logical plan must NOT
    grow with iteration count (localCheckpoint truncates lineage every
    round — without it 20 rounds nest 20 joins and analysis time blows up
    superlinearly); (b) exiting without a fixpoint must warn, not return
    silently-split components."""
    import warnings

    from callysto_spark.operators.graph import connected_components

    # path 0-1-2-...-30: min-label propagates ~doubling? no — one hop per
    # round, so diameter 30 needs 30 rounds.
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["src", "dst"]).repartition(4)

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # converged run must not warn
        done = connected_components(edges, max_iterations=31)
    assert {r["component"] for r in done.collect()} == {0}
    # lineage truncated: plan string is flat regardless of 30+ iterations
    plan_len = len(done._jdf.queryExecution().analyzed().toString())
    assert plan_len < 2_000, f"plan grew with iterations: {plan_len} chars"

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        partial = connected_components(edges, max_iterations=5)
        partial.collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "did not converge" in str(w.message)
        for w in caught
    ), "non-convergent exit must raise a RuntimeWarning"


def test_propagate_round_single_join_reuses_edge_cache(spark):
    """r15 optimization pin (operators/graph.py _propagate_round): one
    propagation round is ONE join + ONE groupBy exchange, and the
    persisted edge list (hash-partitioned and sorted by b at setup) is
    consumed with no per-round Exchange or Sort on its side — only the
    checkpointed labels side (UnknownPartitioning after localCheckpoint)
    re-shuffles. Broadcast is disabled for the plan pin so the scale
    shape (SortMergeJoin) is what is asserted; the in-cache setup
    exchange/sort are excluded (one-time, not per-round)."""
    import io
    import re
    from contextlib import redirect_stdout

    from callysto_spark.operators.graph import _propagate_round

    edges = spark.createDataFrame([(0, 1), (1, 2)], ["a", "b"])
    sym = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition("b")
        .distinct()
        .sortWithinPartitions("b")
        .persist()
    )
    try:
        sym.count()  # materialize the cache (its internal sort/exchange are setup, not per-round)
        labels = (
            sym.select(F.col("a").alias("v"))
            .distinct()
            .withColumn("label", F.col("v"))
            .localCheckpoint(eager=True)  # steady-state labels: UnknownPartitioning
        )
        # semantics on the chain 0-1-2: min(own, neighbor labels) + chg flag
        got = {r["v"]: (r["label"], r["chg"]) for r in _propagate_round(sym, labels).collect()}
        assert got == {0: (0, False), 1: (0, True), 2: (1, True)}

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                _propagate_round(sym, labels).explain("formatted")
            text = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        nums = {
            int(m.group(1)): m.group(2) for m in re.finditer(r"^\((\d+)\) (\w+)", text, re.M)
        }
        # exclude the cached-plan block: InMemoryRelation .. its AdaptiveSparkPlan
        start = next(n for n, op in nums.items() if op == "InMemoryRelation")
        end = next(n for n in sorted(nums) if n > start and nums[n] == "AdaptiveSparkPlan")
        outside = [op for n, op in sorted(nums.items()) if not start <= n <= end]
        joins = [op for op in outside if op.endswith("Join")]
        assert joins == ["SortMergeJoin"], f"expected one SMJ per round, got {joins}"
        assert outside.count("Exchange") == 2, f"per-round exchanges: {outside}"
        assert outside.count("Sort") == 1, f"edge-list side must not re-sort: {outside}"
    finally:
        sym.unpersist()


def test_word_shingles_short_doc_no_ansi_crash(spark):
    """Docs shorter than n tokens must yield one truncated shingle, not
    an INVALID_ARRAY_INDEX_IN_ELEMENT_AT error (try_element_at path)."""
    df = spark.createDataFrame(
        [(1, "two tokens"), (2, "a"), (3, "four small word doc here")], ["doc_id", "text"]
    )
    rows = {r["doc"]: r["gs"] for r in shingle_arrays(df, "doc_id", "text", n=4).collect()}
    assert rows[1] == ["two tokens"]
    assert rows[2] == ["a"]
    assert rows[3][0] == "four small word doc"


def test_shingle_arrays_edge_cases(spark):
    """In-row shingle construction must match the relational/oracle
    definition on edge inputs: empty text (one empty-string token from
    the regex-split convention, shared with DuckDB string_split_regex),
    repeated tokens (distinct shingles), multi-whitespace runs, and the
    Generate-barrier path evaluating the split once per doc."""
    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "a a a a a a"),
            (3, "x \t  y \n z  w q"),
            (4, "one two three four five"),
        ],
        ["doc_id", "text"],
    )
    arr = {r["doc"]: r["gs"] for r in shingle_arrays(df, "doc_id", "text", 4).collect()}
    assert arr[1] == [""]
    assert arr[2] == ["a a a a"]  # repeated tokens collapse to one distinct shingle
    assert arr[3] == ["x y z w", "y z w q"]  # whitespace runs = single separators
    assert arr[4] == ["one two three four", "two three four five"]
    # rows form matches arrays form exactly
    rows = {
        (r["doc"], r["g"])
        for r in shingle_arrays(df, "doc_id", "text", 4)
        .select("doc", F.explode("gs").alias("g"))
        .collect()
    }
    assert rows == {(d, g) for d, gs in arr.items() for g in gs}


def test_changelog_null_op_is_not_a_tombstone(spark):
    """A record whose op is NULL must not silently delete its key: the
    null-naive `op != 'delete'` filter evaluated NULL and dropped the
    key AND its state (r7 review). NULL op now means 'not a delete'."""
    from pyspark.sql import functions as F

    from callysto_spark.operators.changelog import changelog_materialize

    changes = spark.createDataFrame(
        [(1, 10, "upsert", "a"), (1, 20, None, "b"), (2, 10, "upsert", "c"), (2, 20, "delete", None)],
        "k long, off long, op string, payload string",
    )
    out = changelog_materialize(changes, ["k"], [F.col("off")]).collect()
    assert len(out) == 1 and out[0]["k"] == 1 and out[0]["payload"] == "b"


def test_changelog_null_op_is_delete_opt_in(spark):
    """null_op_is_delete=True restores the reference's byte-level
    convention (an absent payload is a tombstone, stores/inmemory.rs:
    195-207): a CDC feed mapping null payloads to a null op column then
    deletes the keys the reference would delete (r7 ADVICE)."""
    from pyspark.sql import functions as F

    from callysto_spark.operators.changelog import changelog_materialize

    changes = spark.createDataFrame(
        [(1, 10, "upsert", "a"), (1, 20, None, None), (2, 10, "upsert", "c")],
        "k long, off long, op string, payload string",
    )
    out = changelog_materialize(changes, ["k"], [F.col("off")], null_op_is_delete=True).collect()
    assert len(out) == 1 and out[0]["k"] == 2 and out[0]["payload"] == "c"


def test_changelog_materialize_matches_replay_reference(spark):
    """Property test: changelog_materialize (one window pass) must equal
    a sequential last-offset-wins replay — the reference's
    apply_changelog_batch semantics (stores/inmemory.rs:185-226) — on
    hypothesis-generated change streams with interleaved upserts,
    explicit deletes, NULL ops, key churn (delete -> re-upsert), and
    both NULL-op contracts."""
    from hypothesis import HealthCheck, given, settings, strategies as st
    from pyspark.sql import functions as F

    from callysto_spark.operators.changelog import changelog_materialize

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(1, 25))
        ops = data.draw(
            st.lists(st.sampled_from(["upsert", "delete", None]), min_size=n, max_size=n)
        )
        keys = data.draw(st.lists(st.integers(0, 4), min_size=n, max_size=n))
        null_is_delete = data.draw(st.booleans())
        # unique offsets = the total order the operator requires
        changes = [
            (k, off, op, f"v{off}" if op == "upsert" else None)
            for off, (k, op) in enumerate(zip(keys, ops))
        ]

        state: dict[int, tuple] = {}
        for k, off, op, payload in changes:  # sequential replay reference
            if op == "delete" or (op is None and null_is_delete):
                state.pop(k, None)
            else:
                state[k] = (off, op, payload)
        want = {(k, off, op, payload) for k, (off, op, payload) in state.items()}

        df = spark.createDataFrame(changes, "k long, off long, op string, payload string")
        got = {
            tuple(r)
            for r in changelog_materialize(
                df, ["k"], [F.col("off")], null_op_is_delete=null_is_delete
            ).collect()
        }
        assert got == want, f"null_is_delete={null_is_delete}: {got ^ want}"

    run()
