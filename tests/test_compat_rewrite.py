"""Oracle-SQL rewriter + plan-audit parsing contracts (r7 review).

Pure-python: these helpers shape what the correctness gate and the plan
tests actually compare, so their parsing must be exact.
"""

import pytest

from callysto_spark.functions.compat import rewrite_oracle_fixed, rewrite_oracle_round


def test_single_arg_round_does_not_abort_later_rewrites():
    # the old scanner returned None at round(sum(a)) — no top-level
    # comma — and the rewrite loop treated that as "no more rounds",
    # leaving round(b, 2) native (cross-engine half-way drift)
    sql = "SELECT round(sum(a)), round(b, 2) FROM t"
    out = rewrite_oracle_round(sql)
    assert "round(sum(a))" in out  # untouched: no digits argument
    assert "round(b, 2)" not in out  # rewritten
    assert "floor" in out and "CASE WHEN" in out


def test_nested_round_calls_all_rewritten():
    out = rewrite_oracle_round("SELECT round(round(x, 3), 2) FROM t")
    # both layers must reach the floor form — a past-the-replacement
    # scan left the inner round(x, 3) native inside the embedded expr
    assert "round(" not in out.lower().replace("floor", "")
    assert out.count("floor") >= 2


def test_round_inside_non_rewritable_call_still_rewritten():
    # skipping the WHOLE single-arg call would skip its body too
    out = rewrite_oracle_round("SELECT round(round(x, 2)) FROM t")
    assert "round(x, 2)" not in out
    assert "floor" in out


def test_round_with_nondigit_scale_untouched():
    sql = "SELECT round(a, b) FROM t"  # column scale: not rewritable
    assert rewrite_oracle_round(sql) == sql


def test_fsum_without_scale_raises_located():
    with pytest.raises(ValueError, match="FSUM macro requires"):
        rewrite_oracle_fixed("SELECT FSUM(price) FROM t")


def test_fsum_with_scale_expands():
    out = rewrite_oracle_fixed("SELECT FSUM(price, 1000) FROM t")
    assert "1000.0" in out and "floor" in out and "FSUM" not in out


_PUSHED_PLAN = (
    "(1) Scan parquet\n"
    "PushedFilters: [IsNotNull(a), GreaterThan(a,5), In(b, [1,2,3])]\n"
    "(2) Scan parquet\n"
    "PushedFilters: []\n"
    "(3) Scan parquet\n"
    "PushedFilters: [EqualTo(c,7)]\n"
)


def test_pushed_filters_depth_aware(monkeypatch):
    from callysto_spark.plans import audit

    monkeypatch.setattr(audit, "physical_plan", lambda df, mode="formatted": _PUSHED_PLAN)
    # a naive comma split fragments GreaterThan(a,5); a first-']'
    # capture truncates at In's inner bracket and DROPS EqualTo entirely
    assert audit.pushed_filters(None) == [
        "IsNotNull(a)",
        "GreaterThan(a,5)",
        "In(b, [1,2,3])",
        "EqualTo(c,7)",
    ]


def test_plan_summary_counts_whole_pushed_filters():
    # the plan ledger's count goes through the same depth-aware parser
    from tools.opt_measure import plan_summary

    assert plan_summary(_PUSHED_PLAN).endswith(" pushed_filters=4")


def test_exchange_count_excludes_reused(monkeypatch):
    from callysto_spark.plans import audit

    plan_text = (
        "Exchange (4) hashpartitioning\n"
        "ReusedExchange (8) [Reuses operator id: 4]\n"
        "BroadcastExchange (7)\n"
    )
    monkeypatch.setattr(audit, "physical_plan", lambda df, mode="formatted": plan_text)
    # the reused exchange executes ONCE at node 4; the broadcast is not
    # a shuffle — one shuffle total
    assert audit.exchange_count(None) == 1


def test_deeply_nested_round_rewrites_each_call_once():
    """r7 ADVICE: the rescan-from-replacement strategy re-rewrote the
    template's embedded copies of expr — ~3^depth passes, so depth ~6
    already produced 50 KB of churn and depth 15+ hung. Innermost-first
    recursion rewrites each original call exactly once: depth 12 must
    complete quickly with every layer reaching the floor form."""
    import time

    sql = "x"
    for i in range(10):
        sql = f"round({sql}, {i % 4})"
    t0 = time.perf_counter()
    out = rewrite_oracle_round(f"SELECT {sql} FROM t")
    dt = time.perf_counter() - t0
    assert "round(" not in out.lower().replace("floor", "")
    assert dt < 5.0, f"depth-10 rewrite took {dt:.1f}s — exponential rescan is back"
