"""tools/bench_compare.py — canary-normalized round-over-round reading aid.

Pure-python (no Spark): the arithmetic must be right because judges and
future rounds read its output as the regression verdict.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import bench_compare  # noqa: E402

# archived bench records (round artifacts and frozen same-code pairs)
HISTORY = Path(__file__).resolve().parents[1] / "history"


def _art(queries, canary=None, **extra):
    art = {"metric": "headline_queries_total", "unit": "sec",
           "value": round(sum(v for v in queries.values() if v), 3),
           "queries": queries}
    if canary is not None:
        art["cpu_canary_s"] = canary
    art.update(extra)
    return art


def test_uniform_host_slowdown_normalizes_to_one():
    # Every query 1.5x slower AND the canary 1.5x slower => host, not code.
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.6, "q2": 1.2}, canary=0.45)
    lines, _, _, _ = bench_compare.compare(old, new, threshold=1.10)
    assert any("no query slower than" in ln for ln in lines)
    q1 = next(ln for ln in lines if ln.startswith("q1"))
    assert " 1.50x" in q1 and " 1.00x" in q1  # raw 1.5, normalized 1.0


def test_real_regression_survives_normalization():
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.4, "q2": 1.6}, canary=0.30)  # q2 genuinely 2x
    lines, _, _, _ = bench_compare.compare(old, new, threshold=1.10)
    assert any("regressions" in ln and "q2" in ln for ln in lines)
    assert not any("regressions" in ln and "q1" in ln for ln in lines)


def test_missing_canary_reports_raw():
    old = _art({"q1": 0.4})  # pre-r7 artifact: no cpu_canary_s
    new = _art({"q1": 0.6}, canary=0.30)
    lines, _, _, _ = bench_compare.compare(old, new)
    assert any("RAW ratios" in ln and "old" in ln for ln in lines)


def test_self_flagged_artifacts_warn():
    old = _art({"q1": 0.4}, canary=0.3)
    new = _art({"q1": 0.4}, canary=0.3, ingest_noisy=True)
    lines, _, _, _ = bench_compare.compare(old, new)
    assert any("self-flags" in ln and "ingest_noisy" in ln for ln in lines)


def test_driver_envelope_unwrapped(tmp_path):
    inner = _art({"q1": 0.4}, canary=0.3)
    wrapped = {"n": 5, "rc": 0, "cpus": 32, "sf": 0.1, "parsed": inner}
    p = tmp_path / "BENCH_rX.json"
    p.write_text(json.dumps(wrapped))
    assert bench_compare.load(str(p)) == inner


def test_failed_query_nulls_do_not_crash():
    # bench.py records a failed query as null and still emits the
    # artifact — the comparison must report it, not TypeError on None
    # (nor ZeroDivisionError on a 0.000-rounded timing)
    old = _art({"q1": 0.4, "q2": None, "q3": 0.0}, canary=0.3)
    old["value"] = 0.4
    new = _art({"q1": 0.6, "q2": 0.5, "q3": 0.2}, canary=0.3)
    lines, _, _, _ = bench_compare.compare(old, new)
    assert any("q2" in ln and "not comparable" in ln and "old failed" in ln for ln in lines)
    assert any("q3" in ln and "not comparable" in ln for ln in lines)
    assert any(ln.startswith("q1") and "1.50x" in ln for ln in lines)


def test_query_set_drift_is_visible():
    old = _art({"q1": 0.4, "gone": 0.2}, canary=0.3)
    new = _art({"q1": 0.4, "added": 0.2}, canary=0.3)
    lines, _, _, _ = bench_compare.compare(old, new)
    assert any("gone" in ln and "only in old" in ln for ln in lines)
    assert any("added" in ln and "only in new" in ln for ln in lines)


def test_gate_passes_on_uniform_host_drift(tmp_path):
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.6, "q2": 1.2}, canary=0.45)  # pure host slowdown
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0


def test_gate_fails_on_real_normalized_regression(tmp_path):
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.4, "q2": 1.6}, canary=0.30)  # q2 genuinely 2x
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_gate_fails_when_canary_missing_or_contaminated(tmp_path):
    # a gate that silently falls back to raw ratios would fail on host
    # drift and pass on real regressions — missing canary must gate-fail
    old = _art({"q1": 0.4})
    new = _art({"q1": 0.4}, canary=0.30)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1
    # self-flagged contamination in the NEW artifact also gate-fails
    po.write_text(json.dumps(_art({"q1": 0.4}, canary=0.30)))
    pn.write_text(json.dumps(_art({"q1": 0.4}, canary=0.30, load_contaminated=True)))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_gate_fails_on_new_query_failure(tmp_path):
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.4, "q2": None}, canary=0.30)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_gate_passes_on_same_code_canary_overcorrection(tmp_path):
    # The r8 false alarm (r8 verdict item 1), synthesized with the real
    # numbers: the single-thread canary ran 0.88x (turbo recovered) while
    # the 32-thread query walls moved only 1.12x raw — normalized 1.27x
    # crossed the 1.25 bar on SAME-CODE artifacts. With no mt canary to
    # corroborate, the gate now requires raw AND norm over threshold.
    old = _art({"q1": 0.948}, canary=0.273)
    new = _art({"q1": 1.065}, canary=0.241)  # raw 1.12x, norm 1.27x
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    # ...while a TRUE regression (raw AND norm over threshold) still fails
    new2 = _art({"q1": 1.3}, canary=0.241)  # raw 1.37x, norm 1.55x
    pn.write_text(json.dumps(new2))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_gate_passes_on_real_same_code_artifacts():
    # The r8 verdict's done-criterion: the r8 anchor (recorded on final
    # r8 code, frozen here as a fixture — the live BENCH_BASELINE.json
    # rotates to each round's final code and is no longer same-code
    # with BENCH_r08) vs BENCH_r08.json (driver artifact of the SAME
    # code) must pass the standing gate.
    root = HISTORY
    old = root / "BENCH_ANCHOR_r8_same_code.json"
    new = root / "BENCH_r08.json"
    if not (old.exists() and new.exists()):
        import pytest

        pytest.skip("anchor artifacts not present")
    assert bench_compare.main([str(old), str(new), "--gate"]) == 0


def test_gate_fails_on_anchor_query_missing_from_new(tmp_path):
    # ADVICE r8: a bench query dropped or renamed must not silently
    # escape the standing gate the way a failed (null) query doesn't
    old = _art({"q1": 0.4, "q2": 0.8}, canary=0.30)
    new = _art({"q1": 0.4}, canary=0.30)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_corroborated_host_speedup_normalizes_by_mt(tmp_path):
    # r9 review finding: with both canaries < 1 and corroborating
    # (st 0.80x, mt 0.70x), normalizing by the nearest-to-1 ratio (st)
    # would hide a real 1.4x regression at norm 1.22. Corroborated
    # pairs must normalize by MT — the reference 32-thread walls track.
    old = _art({"q1": 1.0}, canary=0.30, cpu_canary_mt_s=1.00)
    new = _art({"q1": 0.98}, canary=0.24, cpu_canary_mt_s=0.70)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    # raw 0.98 masks it; norm by mt = 0.98/0.70 = 1.40 > 1.25 -> gates
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_mt_canary_thread_count_mismatch_ignored():
    # the mt canary's wall scales with its thread count: ratios across
    # different counts measure configuration, not host speed
    old = _art({"q1": 1.0}, canary=0.30, cpu_canary_mt_s=0.10, cpu_canary_mt_threads=32)
    new = _art({"q1": 1.0}, canary=0.30, cpu_canary_mt_s=0.15, cpu_canary_mt_threads=48)
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.25)
    assert any("thread counts differ" in ln for ln in lines)
    q1 = next(ln for ln in lines if ln.startswith("q1"))
    assert " 1.00x  1.00x" in q1  # mt ignored: host = st ratio 1.00
    assert not worse


def test_mt_only_artifact_header_is_honest():
    # r9 review finding: with cpu_canary_s missing but the mt canary
    # present, the header used to claim RAW ratios while the norm
    # column was mt-normalized
    old = _art({"q1": 1.0}, cpu_canary_mt_s=0.10)
    new = _art({"q1": 2.0}, cpu_canary_mt_s=0.20)
    lines, _, errors, _ = bench_compare.compare(old, new, threshold=1.25)
    assert any("uses the mt canary alone" in ln for ln in lines)
    assert not any("RAW ratios" in ln for ln in lines)
    q1 = next(ln for ln in lines if ln.startswith("q1"))
    assert " 2.00x  1.00x" in q1  # norm divided by mt's 2.00x
    assert any("cpu_canary_s missing" in e for e in errors)  # still gates


def test_mt_canary_normalizes_by_ratio_nearest_one():
    # st canary says 0.80x, mt canary says 1.00x: normalize by the ratio
    # nearest 1 (under-correcting is gate-stricter, never lenient)
    old = _art({"q1": 1.0}, canary=0.30, cpu_canary_mt_s=1.0)
    new = _art({"q1": 1.0}, canary=0.24, cpu_canary_mt_s=1.0)
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.10)
    q1 = next(ln for ln in lines if ln.startswith("q1"))
    assert " 1.00x  1.00x" in q1  # raw 1.0, normalized by mt's 1.00x not st's 0.80x
    assert not worse


def test_corroborated_canaries_catch_raw_masked_regression(tmp_path):
    # Host got 2x FASTER (both canaries agree) while the query stayed
    # flat: raw 1.0x masks a real 2x normalized regression. Corroborated
    # canaries make the normalization trustworthy, so norm gates ALONE —
    # the case the raw-AND-norm fallback would miss.
    old = _art({"q1": 1.0}, canary=0.48, cpu_canary_mt_s=2.0)
    new = _art({"q1": 1.0}, canary=0.24, cpu_canary_mt_s=1.0)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_diverging_canaries_fall_back_to_raw_and_norm(tmp_path):
    # st 0.80x vs mt 1.00x (beyond the 15% corroboration band): the
    # host reading is mixed, so a norm-only exceedance must NOT gate
    old = _art({"q1": 1.0}, canary=0.30, cpu_canary_mt_s=1.0)
    new = _art({"q1": 1.12}, canary=0.24, cpu_canary_mt_s=1.12)
    # normalizing by mt 1.12x (nearest 1): norm 1.0 — and raw 1.12 < 1.25
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, _, _, _ = bench_compare.compare(
        bench_compare.load(str(po)), bench_compare.load(str(pn)), threshold=1.25
    )
    assert any("disagree" in ln for ln in lines)


def test_ingest_explained_by_io_canary_annotated():
    # r8 verdict item 6: when the ingest delta tracks the io canary's
    # delta within 25%, the line says so (host I/O, not code)
    old = _art({"q1": 0.4}, canary=0.3, ingest_mbps=900.0, io_canary_write_mbps=660.0)
    new = _art({"q1": 0.4}, canary=0.3, ingest_mbps=500.0, io_canary_write_mbps=380.0)
    lines, _, _, _ = bench_compare.compare(old, new)
    ing = next(ln for ln in lines if ln.startswith("INGEST"))
    assert "explained by io canary" in ing
    # ...and NOT when the ingest delta far exceeds the io canary's
    new2 = _art({"q1": 0.4}, canary=0.3, ingest_mbps=200.0, io_canary_write_mbps=660.0)
    lines, _, _, _ = bench_compare.compare(old, new2)
    ing = next(ln for ln in lines if ln.startswith("INGEST"))
    assert "explained by io canary" not in ing


def test_ingest_io_normalization_reported():
    old = _art({"q1": 0.4}, canary=0.3, ingest_mbps=1000.0, io_canary_write_mbps=800.0)
    new = _art({"q1": 0.4}, canary=0.3, ingest_mbps=500.0, io_canary_write_mbps=400.0)
    lines, _, _, _ = bench_compare.compare(old, new)
    ing = next(ln for ln in lines if ln.startswith("INGEST"))
    # raw 0.50x but io canary also halved -> 1.00x io-normalized
    assert "0.50x" in ing and "1.00x io-normalized" in ing


def test_committed_artifact_pair_corroborates_and_gates_norm_alone():
    """r9 verdict item 3: both committed artifacts (the anchor and the
    newest round's bench) carry the mt canary with the same thread
    count, and the gate's branch matches its own corroboration
    predicate on their bracketed means.

    Corroboration itself is a HOST-WINDOW property, not a code
    property — only 2 of 5 same-code r10 session runs corroborated
    against the anchor — so the strict "this pair corroborates and
    takes the mt-corroborated path" assertion is pinned to the pair
    frozen when this was written (anchor + BENCH_r09). For newer
    driver artifacts the test asserts the CODE invariants: both
    canaries present at equal thread counts, and compare() taking
    exactly the branch the predicate dictates for whatever the window
    recorded (a diverging pair must show the nearest-1 fallback, not a
    silently wrong header)."""
    import re

    import pytest

    root = HISTORY
    anchor = root / "BENCH_BASELINE.json"
    # numeric round sort: lexicographic max picks BENCH_r99 over
    # BENCH_r100 at three digits, silently testing a stale artifact;
    # an empty glob must skip (fresh clone), not ValueError. Only
    # CANONICAL round records (BENCH_r<N>.json) qualify: the driver's
    # low-core scaling sidecars (e.g. BENCH_r15_c8.json, cpus=8) record
    # a different mt-canary thread count and are not comparable to the
    # 32-thread anchor — r15's drop of the first such sidecar made this
    # test pick it as "newest" and fail on the thread-count guard.
    rounds = sorted(
        (p for p in root.glob("BENCH_r*.json") if re.fullmatch(r"BENCH_r\d+\.json", p.name)),
        key=lambda p: int(re.search(r"r(\d+)", p.stem).group(1)),
    )
    if not rounds:
        pytest.skip("no BENCH_r*.json artifacts present")
    # BENCH_r11.json is the driver's record of a lost round: bench.py's
    # final stdout line outgrew the driver's ~2 KB tail capture and the
    # committed envelope has `parsed: null` (r11 verdict item 1). The
    # record is unrecoverable history; bench.py's split_headline now
    # hard-bounds the final line (test_bench_headline.py) so this can't
    # recur. That ONE artifact is allowlisted and skipped; any other
    # driver-unparseable artifact still fails here — the guard stays
    # strict for r12+.
    LOST_RECORDS = {"BENCH_r11.json"}
    while rounds and rounds[-1].name in LOST_RECORDS:
        rounds.pop()
    if not rounds:
        pytest.skip("only lost-record artifacts present")
    newest = rounds[-1]
    if not anchor.exists():
        pytest.skip("anchor artifact not present")
    old, new = bench_compare.load(str(anchor)), bench_compare.load(str(newest))
    for art, name in ((old, "anchor"), (new, newest.name)):
        assert art.get("cpu_canary_s"), f"{name} lost the 1t canary"
        assert art.get("cpu_canary_mt_s"), f"{name} lost the mt canary"
    assert old.get("cpu_canary_mt_threads") == new.get("cpu_canary_mt_threads"), (
        "mt canary thread counts differ — ratios not comparable"
    )

    def br(a, s, e):
        return (a[s] + a[e]) / 2.0 if a.get(e) else a[s]

    host_st = br(new, "cpu_canary_s", "cpu_canary_end_s") / br(old, "cpu_canary_s", "cpu_canary_end_s")
    host_mt = br(new, "cpu_canary_mt_s", "cpu_canary_mt_end_s") / br(old, "cpu_canary_mt_s", "cpu_canary_mt_end_s")
    corroborated = abs(host_st / host_mt - 1.0) <= 0.15
    lines, _, errors, _ = bench_compare.compare(old, new, threshold=1.25)
    assert not errors
    header = next(ln for ln in lines if ln.startswith("host speed:"))
    expected = "mt, corroborated" if corroborated else "ratio nearest 1"
    assert expected in header, (corroborated, header)
    if newest.name == "BENCH_r09.json":
        # the frozen r10-era pair: corroborates on bracketed means
        # (1t 0.96x vs mt 0.88x) — the strict norm-alone proof the r9
        # verdict asked for
        assert corroborated, (
            f"frozen pair stopped corroborating: 1t {host_st:.2f}x vs mt {host_mt:.2f}x"
        )


def test_mid_run_drift_normalizes_by_bracketed_mean(tmp_path):
    """r10 recalibration: contention arriving MID-RUN slows the query
    walls while the start canary still reads the fast window — the
    exact same-code false-FAIL observed live (mt start 0.112s, end
    0.137s, three queries pushed past 1.25x under start-only
    normalization). The bracketed mean must absorb it and note the
    within-run drift."""
    old = _art(
        {"q1": 0.40, "q2": 0.80}, canary=0.30,
        cpu_canary_end_s=0.30, cpu_canary_mt_s=0.126,
        cpu_canary_mt_end_s=0.126, cpu_canary_mt_threads=32,
    )
    # host slows ~25% partway through: walls average ~1.2x, start
    # canaries unchanged, end canaries carry the slowdown
    new = _art(
        {"q1": 0.48, "q2": 0.96}, canary=0.30,
        cpu_canary_end_s=0.39, cpu_canary_mt_s=0.126,
        cpu_canary_mt_end_s=0.17, cpu_canary_mt_threads=32,
    )
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.25)
    assert not worse
    assert any("WITHIN the run" in ln for ln in lines)


def test_real_regression_not_masked_by_bracketed_mean(tmp_path):
    # a genuine 1.5x code regression on a STABLE host (start == end
    # canaries) must still gate — bracketing must not add leniency
    stable = dict(cpu_canary_end_s=0.30, cpu_canary_mt_s=0.126,
                  cpu_canary_mt_end_s=0.126, cpu_canary_mt_threads=32)
    old = _art({"q1": 0.40, "q2": 0.80}, canary=0.30, **stable)
    new = _art({"q1": 0.60, "q2": 0.80}, canary=0.30, **stable)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_legacy_artifact_without_end_samples_unchanged():
    # pre-r7 artifacts have no end canaries: ratios must fall back to
    # start-only (not crash, not silently drop the canary)
    old = _art({"q1": 0.4}, canary=0.30)
    new = _art({"q1": 0.6}, canary=0.45)
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.10)
    assert any("1.50x" in ln and "host speed" in ln for ln in lines)
    assert not worse


def test_noise_band_exceedance_with_flat_total_is_watch_not_gate(tmp_path):
    """r10: five same-code runs in one evening spread individual
    sub-second queries up to 1.32x while totals stayed 0.97-1.13x —
    a single query reading norm 1.25-1.5x with a FLAT artifact total
    under corroborated canaries is window noise (the live run-c false
    FAIL: emb_ivf_topk norm 1.36x, total 1.13x), and must be surfaced
    as WATCH, not gated."""
    # host reads 0.9x on both canaries (corroborated); one of eight
    # queries reads raw 1.22x -> norm 1.36x (inside the band, under
    # hard=1.5); the artifact total stays under the 1.15 bar
    old = _art({f"q{i}": 0.8 for i in range(8)}, canary=0.30,
               cpu_canary_mt_s=0.126, cpu_canary_mt_threads=32)
    newq = {f"q{i}": 0.8 for i in range(8)}
    newq["q0"] = 0.976  # raw 1.22x, norm 1.36x
    new = _art(newq, canary=0.27, cpu_canary_mt_s=0.1134, cpu_canary_mt_threads=32)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.25)
    assert not worse
    assert any("WATCH" in ln for ln in lines)


def test_uniform_regression_masked_by_host_speedup_still_gates(tmp_path):
    # host sped up 0.85x (corroborated) while a UNIFORM 1.35x code
    # regression hides raw at 1.15x (under threshold): the artifact
    # total corroborates the slowdown (total norm 1.35 > 1.15 bar), so
    # every query in the band gates — the clause that keeps the noise
    # band from becoming a blanket amnesty
    old = _art({"q1": 0.8, "q2": 0.8}, canary=0.30,
               cpu_canary_mt_s=0.126, cpu_canary_mt_threads=32)
    new = _art({"q1": 0.918, "q2": 0.918}, canary=0.255,
               cpu_canary_mt_s=0.107, cpu_canary_mt_threads=32)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_raw_masked_band_regression_beyond_hard_bar_gates(tmp_path):
    # single-query norm 1.6x (beyond hard=1.5) fully masked in raw by a
    # genuine host speedup: gates alone under corroborated canaries
    old = _art({"q1": 0.8, "q2": 0.8}, canary=0.30,
               cpu_canary_mt_s=0.126, cpu_canary_mt_threads=32)
    new = _art({"q1": 0.96, "q2": 0.60}, canary=0.225,
               cpu_canary_mt_s=0.0945, cpu_canary_mt_threads=32)
    # host 0.75x; q1 raw 1.2 -> norm 1.6 (> hard); q2 raw 0.75 -> norm 1.0
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_bench_flagged_registry_rows_match_anchor_queries():
    """The gate errors when an ANCHOR query is missing from a new
    artifact, but a newly bench-flagged registry row absent from the
    anchor would escape gating silently (compare prints 'only in new'
    without failing). Pin the two sets equal so flagging a new bench
    row forces an anchor refresh in the same change."""
    from callysto_spark.queries import load_all

    root = HISTORY
    anchor = root / "BENCH_BASELINE.json"
    if not anchor.exists():
        import pytest

        pytest.skip("anchor artifact not present")
    bench_rows = sorted(n for n, q in load_all().items() if q.bench)
    anchor_rows = sorted(json.loads(anchor.read_text())["queries"])
    assert bench_rows == anchor_rows


def _bracketed_art(queries, bracket_s, canary, mt, overrides=None):
    """Artifact whose every query carries a [b, b] mt bracket; specific
    queries can override their bracket via ``overrides``."""
    qc = {n: list((overrides or {}).get(n, (bracket_s, bracket_s))) for n in queries}
    return _art(
        queries,
        canary=canary,
        cpu_canary_mt_s=mt,
        cpu_canary_mt_threads=32,
        query_canary_mt_s=qc,
    )


def test_bracketed_pair_normalizes_locally_contended_query_by_own_ratio():
    """r11: a query whose own bracket ratio deviates >1.3x from the
    bracket-ratio median was locally contended (run 3: opening sample
    0.400s vs 0.085s idle, wall 1.8x its flat-window value) — its wall
    moved WITH the local burst, so it normalizes by its own ratio and a
    contended same-code reading must not gate."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.09, canary=0.30, mt=0.126)
    newq = {f"q{i}": 0.8 for i in range(8)}
    newq["q0"] = 1.6  # raw 2.0x...
    new = _bracketed_art(
        newq, 0.09, canary=0.30, mt=0.126,
        overrides={"q0": (0.20, 0.16)},  # ...under a 2x local burst
    )
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and not watch
    q0 = next(ln for ln in lines if ln.startswith("q0"))
    assert " 2.00x" in q0 and " 1.00x" in q0  # raw 2.0, bracket-norm 1.0


def test_bracket_sample_noise_is_not_injected_into_flat_queries():
    """r11 calibration: individual brackets carry ±20% sample noise the
    min-of-n walls do NOT follow — on the same-code pair, normalizing a
    raw-0.98x query by its own 0.81x bracket ratio read it at 1.22x.
    Inside the 1.3x dead-band a query must normalize by the MEDIAN."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.10, canary=0.30, mt=0.126)
    new = _bracketed_art(
        {f"q{i}": 0.8 for i in range(8)}, 0.10, canary=0.30, mt=0.126,
        overrides={"q0": (0.081, 0.081)},  # 0.81x own ratio, walls flat
    )
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and not watch
    q0 = next(ln for ln in lines if ln.startswith("q0"))
    assert " 1.00x  1.00x" in q0.replace("  ", " ").replace("  ", " ") or "1.00x" in q0
    # median of ratios is 1.0 -> norm 1.00x, not 1.23x
    assert "1.23x" not in q0


def test_bracketed_raw_masked_regression_beyond_tight_hard_bar_gates(tmp_path):
    """r11: bracketed (two-session) pairs gate a norm-only exceedance
    at 1.40 (vs the legacy 1.5): a single-query 1.45x regression fully
    raw-masked by a genuine 0.7x host speedup must gate alone — under
    the legacy bar it escaped as WATCH."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.12, canary=0.30, mt=0.126)
    newq = {f"q{i}": 0.56 for i in range(8)}  # host 0.7x, walls follow
    newq["q0"] = 0.812  # raw 1.02x -> norm 1.45x
    new = _bracketed_art(newq, 0.084, canary=0.21, mt=0.0882)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.25)
    assert worse == ["q0"]


def test_bracketed_band_exceedance_with_flat_total_still_watches(tmp_path):
    """The residual (1.25, 1.40] band stays WATCH on bracketed pairs:
    the r11 same-code calibration pair itself produced a 1.31x
    raw-and-norm reading on a 0.28s query (inverse direction), so
    gating the band would false-fail same-code runs."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.12, canary=0.30, mt=0.126)
    newq = {f"q{i}": 0.56 for i in range(8)}
    newq["q0"] = 0.728  # raw 0.91x -> norm 1.3x: inside (1.25, 1.35]
    new = _bracketed_art(newq, 0.084, canary=0.21, mt=0.0882)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and watch == ["q0"]
    assert any(ln.startswith("WATCH: q0") for ln in lines)


def test_bracketed_same_code_raw_and_norm_band_reading_watches_not_gates(tmp_path):
    """r11 core calibration fact: the same-code noise mode on bracketed
    pairs is FLAT brackets with raw == norm (single-session JIT lottery;
    two-session minimums still reach ~1.28x). A 1.31x raw-AND-norm
    reading with a flat total — which the legacy raw-agreement rule
    gated — must WATCH on a bracketed pair."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.09, canary=0.30, mt=0.126)
    newq = {f"q{i}": 0.8 for i in range(8)}
    newq["q0"] = 1.048  # raw 1.31x, brackets flat -> norm 1.31x
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and watch == ["q0"]


def test_bracketed_uniform_slowdown_total_corroborates_and_gates(tmp_path):
    """A uniform 1.3x code regression on a bracketed pair: every query
    is in the band, but the artifact TOTAL (stable to ~1.06x on
    same-code runs) corroborates at 1.3x > total_bar 1.20 -> gates."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.09, canary=0.30, mt=0.126)
    new = _bracketed_art({f"q{i}": 1.04 for i in range(8)}, 0.09, canary=0.30, mt=0.126)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1


def test_multiple_band_exceedances_on_one_pair_gate(tmp_path):
    """r12 advice (medium): the WATCH band was calibrated on the
    SINGLE-query noise mode — several small queries regressing ~1.3x
    together move the total only a few percent and previously escaped
    both the per-query and total bars entirely. Simultaneous band
    exceedances (>= 2 bracketed, >= 3 legacy) escalate to gated
    regressions, and the already-rendered WATCH marks are rewritten
    so the report agrees with the gate outcome (r12 ADVICE 3)."""
    old = _bracketed_art({f"q{i}": 0.8 for i in range(8)}, 0.09, canary=0.30, mt=0.126)
    newq = {f"q{i}": 0.8 for i in range(8)}
    for n in ("q0", "q1", "q2"):
        newq[n] = 1.04  # raw/norm 1.3x each; total 7.12/6.4 = 1.11 < 1.20 bar
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert sorted(worse) == ["q0", "q1", "q2"] and not watch
    assert any("simultaneously" in ln for ln in lines)
    # r12 ADVICE 3: the per-query rows must not contradict the gate —
    # the WATCH marks on escalated rows are rewritten
    escalated_rows = [ln for ln in lines if ln.startswith(("q0", "q1", "q2"))]
    assert escalated_rows and all("escalated: gated" in ln for ln in escalated_rows)
    assert not any("WATCH, not gated" in ln for ln in escalated_rows)


def test_two_band_exceedances_with_total_corroboration_gate(tmp_path):
    """r13 (r12 verdict item 4, scaled-bar option): on a bracketed
    pair, TWO simultaneous band exceedances escalate when the total's
    normalized ratio clears the count-scaled bar (1.20 - 0.05*2 =
    1.10) — a dispersed regression big enough to move the total past
    same-code drift must not hide in the band."""
    baseq = {f"q{i}": 0.8 for i in range(6)} | {"qa": 1.6, "qb": 1.6}
    old = _bracketed_art(baseq, 0.09, canary=0.30, mt=0.126)
    newq = dict(baseq)
    for n in ("qa", "qb"):
        newq[n] = 2.16  # raw/norm 1.35x each; total 9.12/8.0 = 1.14 > 1.10
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert sorted(worse) == ["qa", "qb"] and not watch
    assert any("escalated: gated" in ln for ln in lines)


def test_archived_same_code_selfpair_two_band_exceedances_stay_watch():
    """The r13 calibration evidence, pinned: two clean same-code
    windows (flat corroborated canaries, admitted loads, engine
    identical — archived verbatim) read events_sessionize 1.35x and
    supplier_daily_running 1.36x simultaneously while the TOTAL got
    FASTER (0.91x). Count-alone escalation would gate a same-code
    pair; the scaled total bar must leave both as WATCH."""
    fx = HISTORY
    s1 = bench_compare.load(str(fx / "bench_r13_selfpair_a.json"))
    s3 = bench_compare.load(str(fx / "bench_r13_selfpair_b.json"))
    lines, worse, errors, watch = bench_compare.compare(s3, s1, threshold=1.25)
    assert not errors and not worse
    assert sorted(watch) == ["events_sessionize", "supplier_daily_running"]
    assert any("same-code dispersion mode" in ln for ln in lines)


def test_archived_same_code_selfpair_documents_the_jit_envelope():
    """The OTHER direction of the archived pair shows the JIT lottery
    exceeding the bracketed hard bar on same code: emb_cosine_topk
    0.278s -> 0.493s (1.79x norm at flat brackets) between a fast-draw
    and a slow-draw window, despite two-session minimums. This
    direction DOES gate — recorded here as the standing caveat that
    the anchor→new gate's per-query hard bar is only as good as the
    anchor's draws (refresh anchors from mid-range windows, never from
    the fastest window of a session — BENCH_BASELINE's emb_cosine_topk
    is a mid/slow draw at 0.442s, which is why live rounds pass)."""
    fx = HISTORY
    s1 = bench_compare.load(str(fx / "bench_r13_selfpair_a.json"))
    s3 = bench_compare.load(str(fx / "bench_r13_selfpair_b.json"))
    _, worse, errors, _ = bench_compare.compare(s1, s3, threshold=1.25)
    assert not errors
    assert "emb_cosine_topk" in worse  # 1.79x > hard_br on same code
    # both windows individually gate clean against the committed anchor
    root = HISTORY
    anchor = root / "BENCH_BASELINE.json"
    if anchor.exists():
        a = bench_compare.load(str(anchor))
        for art in (s1, s3):
            _, worse_a, errors_a, _ = bench_compare.compare(a, art, threshold=1.25)
            assert not errors_a and not worse_a


def test_two_band_exceedances_on_legacy_unbracketed_pair_still_watch(tmp_path):
    """Legacy (unbracketed, single-session) pairs keep the r12 bar of
    3: their same-code per-query spread reaches 1.32x, so pairs of
    flukes are inside calibration. Two raw-masked band exceedances
    with a flat total stay WATCH."""
    old = _art({f"q{i}": 0.8 for i in range(8)}, canary=0.30,
               cpu_canary_mt_s=0.126, cpu_canary_mt_threads=32)
    newq = {f"q{i}": 0.8 for i in range(8)}
    for n in ("q0", "q1"):
        newq[n] = 0.976  # host 0.9x: raw 1.22x -> norm 1.36x, in band
    new = _art(newq, canary=0.27, cpu_canary_mt_s=0.1134, cpu_canary_mt_threads=32)
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and sorted(watch) == ["q0", "q1"]
    assert any(ln.startswith("WATCH: q0, q1") for ln in lines)


def test_bracket_median_is_true_median_on_even_counts():
    """r12 advice (low): _ratios[len//2] is the UPPER median — on the
    standard even-count bench it biased the host factor toward the
    larger bracket ratio, shrinking every normalized ratio (lenient).
    Two queries with bracket ratios 1.0 and 1.2 must normalize by
    1.10x, not 1.20x."""
    old = _bracketed_art({"q0": 0.8, "q1": 0.8}, 0.10, canary=0.30, mt=0.126)
    new = _bracketed_art(
        {"q0": 0.88, "q1": 0.8}, 0.10, canary=0.30, mt=0.126,
        overrides={"q1": (0.12, 0.12)},  # ratios: q0 1.0, q1 1.2
    )
    lines, _, _, _ = bench_compare.compare(old, new, threshold=1.25)
    hdr = next(ln for ln in lines if "bracket-ratio median" in ln)
    assert "1.10x" in hdr, hdr


def test_committed_sf1_anchor_pair_gates_clean():
    """r12 verdict item 3: the 100x-scale story needs a bench anchor
    the driver's gate discipline can read at a scale beyond sf0.1.
    The committed sf1 pair (BENCH_SF1_BASELINE.json + the round's
    corroborating run) must load, carry both canaries and per-query
    brackets at the standard thread count, cover exactly the 12 bench
    headline rows, record sf 1.0, and gate clean in both directions.

    r14: the anchor is now MINTED (median of 3 same-code windows on
    the sharded gen_sf1 corpus — the 10-file layout moved the whole
    curve 0.57x, so the r13 single-file anchor, preserved as
    BENCH_SF1_BASELINE_r13_singlefile.json, became gate-lenient);
    the corroborating run is the r14 self window. The minted anchor
    must carry its provenance + measured envelope."""
    import pytest

    root = HISTORY
    anchor = root / "BENCH_SF1_BASELINE.json"
    corr = root / "BENCH_SF1_SELF_r14.json"
    if not (anchor.exists() and corr.exists()):
        pytest.skip("sf1 anchor pair not present")
    old, new = bench_compare.load(str(anchor)), bench_compare.load(str(corr))
    minted = old.get("anchor_minted")
    assert minted and minted["windows"] >= 3 and minted["envelope"]
    from callysto_spark.queries import load_all

    bench_rows = sorted(n for n, q in load_all().items() if q.bench)
    for art, name in ((old, "sf1 anchor"), (new, "sf1 corroboration")):
        assert art.get("sf") == 1.0, f"{name} not an sf1 record"
        assert sorted(art["queries"]) == bench_rows, f"{name} query set drifted"
        assert art.get("cpu_canary_s") and art.get("cpu_canary_mt_s")
        assert art.get("cpu_canary_mt_threads") == 32
        assert art.get("query_canary_mt_s"), f"{name} lost per-query brackets"
        assert not art.get("load_contaminated") and not art.get("partial")
    for a, b in ((old, new), (new, old)):
        _, worse, errors, _ = bench_compare.compare(a, b, threshold=1.25)
        assert not errors and not worse


def test_scaled_bar_floored_against_same_code_total_envelope(tmp_path):
    """r13 ADVICE finding 1: the unfloored count-scaled bar (1.20 -
    0.05*n) walked INTO the documented same-code TOTAL envelope (1.13x
    normalized across five runs, 1.18x on the committed anchor pair) —
    at n=4 the bar read 1.00, so a same-code pair with several small
    queries drawn slow and a near-flat total would false-gate. The bar
    is now floored at 1.10 (threshold*0.4 over 1) with the exceedance
    count capped at 3: four band exceedances whose combined total
    impact is ~1.03x stay WATCH."""
    oldq = {f"s{i}": 0.2 for i in range(8)} | {f"b{i}": 1.5 for i in range(4)}
    newq = dict(oldq)
    for n in ("s0", "s1", "s2", "s3"):
        newq[n] = 0.26  # 1.3x each, in the band
    old = _bracketed_art(oldq, 0.09, canary=0.30, mt=0.126)
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    # totals 7.6 -> 7.84 = 1.03x: under the 1.10 floor, but OVER the
    # pre-fix n=4 bar of 1.00 — this exact pair used to gate
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    lines, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and sorted(watch) == ["s0", "s1", "s2", "s3"]
    bar_line = next(ln for ln in lines if "under the scaled bar" in ln)
    assert "1.10x" in bar_line, bar_line


def test_scaled_bar_never_lets_faster_total_corroborate(tmp_path):
    """Pre-fix, n>=5 band exceedances pushed the bar below 1.00 so a
    FASTER total 'corroborated' a regression. With the cap+floor, five
    band exceedances against a 0.95x total stay WATCH."""
    oldq = {f"s{i}": 0.2 for i in range(5)} | {f"b{i}": 1.5 for i in range(5)}
    newq = {f"s{i}": 0.26 for i in range(5)} | {f"b{i}": 1.35 for i in range(5)}
    old = _bracketed_art(oldq, 0.09, canary=0.30, mt=0.126)
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    # totals 8.5 -> 8.05 = 0.947x; pre-fix bar at n=5 was 0.95
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    _, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and len(watch) == 5


def test_escalated_rows_no_longer_claim_total_flat(tmp_path):
    """r13 ADVICE finding 4: escalation on bracketed pairs fires
    precisely BECAUSE the total corroborated, so the rewritten row mark
    must not retain the 'total flat' text."""
    baseq = {f"q{i}": 0.8 for i in range(6)} | {"qa": 1.6, "qb": 1.6}
    newq = dict(baseq)
    for n in ("qa", "qb"):
        newq[n] = 2.16  # 1.35x each; total 1.14x > 1.10 scaled bar
    old = _bracketed_art(baseq, 0.09, canary=0.30, mt=0.126)
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)
    lines, worse, _, _ = bench_compare.compare(old, new, threshold=1.25)
    assert sorted(worse) == ["qa", "qb"]
    rows = [ln for ln in lines if ln.startswith(("qa", "qb"))]
    assert rows and all("total corroborates — escalated: gated" in ln for ln in rows)
    assert not any("total flat" in ln for ln in rows)


def test_slow_creep_ledger_escalates_repeat_watch(tmp_path):
    """r13 verdict item 6: a query in the WATCH band in two consecutive
    committed artifacts gates even with a flat total. The OLD
    artifact's `watch_ledger` (stamped by bench.py against the
    committed anchor) names the prior round's band members; a query in
    that ledger AND in this pair's band escalates."""
    oldq = {f"q{i}": 0.8 for i in range(8)}
    newq = dict(oldq)
    newq["q0"] = 1.04  # 1.3x, in band; total 6.64/6.4 = 1.04x, flat
    old = _bracketed_art(oldq, 0.09, canary=0.30, mt=0.126)
    new = _bracketed_art(newq, 0.09, canary=0.30, mt=0.126)

    # control: no ledger (pre-r14 artifact) -> plain WATCH, gate passes
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 0
    _, worse, _, watch = bench_compare.compare(old, new, threshold=1.25)
    assert not worse and watch == ["q0"]

    # control: ledger names a DIFFERENT query -> still WATCH
    old_other = dict(old, watch_ledger=["q5"])
    _, worse, _, watch = bench_compare.compare(old_other, new, threshold=1.25)
    assert not worse and watch == ["q0"]

    # the creep case: q0 was in the prior artifact's band too -> gated
    old_led = dict(old, watch_ledger=["q0"])
    po.write_text(json.dumps(old_led))
    assert bench_compare.main([str(po), str(pn), "--gate"]) == 1
    lines, worse, _, watch = bench_compare.compare(old_led, new, threshold=1.25)
    assert worse == ["q0"] and not watch
    assert any(ln.startswith("slow-creep: q0") for ln in lines)
    row = next(ln for ln in lines if ln.startswith("q0"))
    assert "repeated across rounds — escalated: gated" in row
    assert "WATCH, not gated" not in row


def test_mint_anchor_refuses_archived_fast_draw_window():
    """r13 verdict item 3, the exact failure mode: the archived
    same-code fast window drew emb_cosine_topk at 0.278s where the
    committed anchor reads 0.442s — an anchor minted from it would read
    future same-code runs at up to 1.79x and gate-fail them. The mint
    must refuse it as a single-window candidate."""
    fx = HISTORY
    root = HISTORY
    fast = bench_compare.load(str(fx / "bench_r13_selfpair_a.json"))
    anchor = bench_compare.load(str(root / "BENCH_BASELINE.json"))
    minted, msgs = bench_compare.mint_anchor([fast], current=anchor)
    assert minted is None
    joined = " ".join(msgs)
    assert "emb_cosine_topk" in joined and "fast lottery draw" in joined
    assert "refusing to bless" in joined


def test_mint_anchor_blesses_median_of_three_windows(tmp_path):
    """>= 3 windows mint by per-query MEDIAN — one fast lottery draw
    cannot become the anchor value — and the measured per-query
    envelope is recorded in the artifact (the next refresh's same-code
    evidence, mechanical instead of prose)."""
    def win(q0):
        return _bracketed_art({"q0": q0, "q1": 0.50}, 0.09, canary=0.30, mt=0.126)

    w1, w2, w3 = win(0.28), win(0.44), win(0.49)  # the archived draw shape
    minted, msgs = bench_compare.mint_anchor([w1, w2, w3])
    assert minted is not None
    assert minted["queries"]["q0"] == 0.44  # median, not the 0.28 fast draw
    assert minted["anchor_minted"]["windows"] == 3
    assert minted["anchor_minted"]["envelope"]["q0"] == [0.28, 0.49]
    assert minted["value"] == round(0.44 + 0.50, 3)
    assert minted["cpu_canary_mt_threads"] == 32
    assert minted["query_canary_mt_s"]["q0"] == [0.09, 0.09]
    # CLI round-trip
    paths = []
    for i, w in enumerate((w1, w2, w3)):
        p = tmp_path / f"w{i}.json"
        p.write_text(json.dumps(w))
        paths.append(str(p))
    out = tmp_path / "anchor.json"
    rc = bench_compare.main(
        ["--mint-anchor", "--windows", *paths, "--out", str(out),
         "--provenance", "unit test"]
    )
    assert rc == 0
    assert json.loads(out.read_text())["queries"]["q0"] == 0.44


def test_mint_anchor_single_window_inside_envelope_blessed(tmp_path):
    """A single candidate whose every per-query value sits inside the
    archived same-code envelope (1.32x) of the current anchor is
    blessable — the verdict's OR branch."""
    current = _bracketed_art({"q0": 0.44, "q1": 0.50}, 0.09, canary=0.30, mt=0.126)
    cand = _bracketed_art({"q0": 0.47, "q1": 0.46}, 0.09, canary=0.30, mt=0.126)
    minted, msgs = bench_compare.mint_anchor([cand], current=current)
    assert minted is not None
    assert minted["queries"] == {"q0": 0.47, "q1": 0.46}
    assert "single-window" in minted["anchor_minted"]["policy"]
    # and without a current anchor, a lone window is not blessable
    minted2, msgs2 = bench_compare.mint_anchor([cand])
    assert minted2 is None and any("--current" in m for m in msgs2)
    # CLI refusal path exits 1
    pc, pa = tmp_path / "cand.json", tmp_path / "out.json"
    pc.write_text(json.dumps(cand))
    rc = bench_compare.main(
        ["--mint-anchor", "--windows", str(pc), "--out", str(pa)]
    )
    assert rc == 1 and not pa.exists()


def test_mint_anchor_refuses_unclean_windows():
    """Self-flagged or partial windows are not anchor material, and
    windows that disagree on the query set cannot be medianed."""
    good = _bracketed_art({"q0": 0.44}, 0.09, canary=0.30, mt=0.126)
    flagged = dict(good, load_contaminated=True)
    minted, msgs = bench_compare.mint_anchor([good, flagged, good])
    assert minted is None and any("self-flags" in m for m in msgs)
    failed = dict(good, queries={"q0": None})
    minted, msgs = bench_compare.mint_anchor([good, failed, good])
    assert minted is None and any("failed queries" in m for m in msgs)
    other = _bracketed_art({"qX": 0.44}, 0.09, canary=0.30, mt=0.126)
    minted, msgs = bench_compare.mint_anchor([good, other, good])
    assert minted is None and any("disagree on the query set" in m for m in msgs)


def test_archived_r14_selfpair_gates_clean_and_ledger_does_not_false_fire():
    """The r14 same-code calibration pair (two clean admitted sf0.1
    windows on final r14 code, totals 4.909s/4.596s, flat corroborated
    canaries): both directions gate clean, and emb_cosine_topk — the
    standing JIT-lottery row — lands in the pairwise WATCH band in one
    direction (0.387s -> 0.482s, ~1.3x norm) while BOTH windows'
    anchor-relative watch_ledgers are empty. That is the exact
    discrimination the slow-creep ledger is built on: pairwise band
    membership alone (lottery) does not escalate; only band membership
    on top of a prior-round anchor-relative flag (creep) does."""
    fx = HISTORY
    a = bench_compare.load(str(fx / "bench_r14_selfpair_a.json"))
    b = bench_compare.load(str(fx / "bench_r14_selfpair_b.json"))
    assert a.get("watch_ledger") == [] and b.get("watch_ledger") == []
    for old, new in ((a, b), (b, a)):
        _, worse, errors, _ = bench_compare.compare(old, new, threshold=1.25)
        assert not errors and not worse
    # the lottery row sits in the band a->b but must stay WATCH (empty
    # prior ledger => no escalation)
    _, worse, _, watch = bench_compare.compare(a, b, threshold=1.25)
    assert "emb_cosine_topk" in watch and not worse
    # counterfactual: had the prior artifact's ledger flagged it, the
    # same pair WOULD gate — the creep path is live on real artifacts
    a_flagged = dict(a, watch_ledger=["emb_cosine_topk"])
    _, worse, _, watch = bench_compare.compare(a_flagged, b, threshold=1.25)
    assert worse == ["emb_cosine_topk"] and not watch


def test_committed_r15_ledger_pins_next_round_creep_decision():
    """The committed r15 sf0.1 self artifact stamped a NON-empty
    ledger for the first time: q5_supplier_volume read 0.480s vs the
    anchor's 0.337s (1.36x norm — inside the 1.79x same-code JIT
    envelope; sibling windows that round read 0.369s/0.473s). This
    test pins the exact decision the r16 pair must make against that
    live artifact: a window where q5 recovers passes un-escalated
    (lottery dissolves), a window where q5 sits in the band again
    gates as slow-creep. The sf1 artifact's ledger is pinned empty."""
    root = HISTORY
    art_path = root / "BENCH_DETAIL_self_r15.json"
    if not art_path.exists():
        pytest.skip("r15 self artifact not present in this checkout")
    r15 = bench_compare.load(str(art_path))
    assert r15.get("watch_ledger") == ["q5_supplier_volume"]
    sf1 = root / "BENCH_SF1_SELF_r15_DETAIL.json"
    if sf1.exists():
        assert bench_compare.load(str(sf1)).get("watch_ledger") == []

    def future_window(q5_s: float) -> dict:
        art = {k: v for k, v in r15.items() if k != "watch_ledger"}
        art["queries"] = dict(r15["queries"], q5_supplier_volume=q5_s)
        art["value"] = round(sum(art["queries"].values()), 3)
        return art

    # q5 recovers toward the anchor level -> no escalation, no worse
    _, worse, errors, watch = bench_compare.compare(
        r15, future_window(0.360), threshold=1.25
    )
    assert not errors and not worse
    # q5 in the band again on a flat total -> the ledger escalates it
    lines, worse, errors, watch = bench_compare.compare(
        r15, future_window(0.640), threshold=1.25
    )
    assert not errors
    assert "q5_supplier_volume" in worse and "q5_supplier_volume" not in watch
    assert any(ln.startswith("slow-creep: q5_supplier_volume") for ln in lines)
