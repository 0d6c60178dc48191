#!/usr/bin/env python
"""Compare two BENCH_r*.json artifacts with host-speed normalization.

Historical: this reads the archived round records in ``history/``.
Today's ``bench.py`` no longer writes the canary, bracket and ledger
fields described below, and parent-vs-change ``perfbench/run.py`` runs
are the A/B harness.

The shared host's effective clock drifts run-to-run (COVERAGE.md, "r7
bench measurement story"): every query can read 1.3-1.9x slower with a
clean load gate and 0% steal simply because the box itself is slow that
hour.  ``bench.py`` therefore records a deterministic single-thread CPU
reference (``cpu_canary_s``) in each artifact.  This tool does the
arithmetic the canary exists for: it divides each query's old/new ratio
by the canary ratio, so a uniform host slowdown normalizes to ~1.0x and
only code-level changes stand out.  Ingest deltas are likewise read
against the fixed-size I/O canary (``io_canary_write_mbps``, r8).

Usage:
    python tools/bench_compare.py BENCH_r06.json BENCH_r07.json
    python tools/bench_compare.py old.json new.json --threshold 1.15
    python tools/bench_compare.py BENCH_BASELINE.json BENCH_r08.json --gate

Reading-aid mode (default) always exits 0.  ``--gate`` turns it into
the standing regression gate (r7 verdict item 2): exit 1 on a
regression beyond the threshold (default 1.25 under --gate), when the
anchor/new artifact lacks the canary the normalization needs, when an
anchor query is missing or failed in the new artifact, or when the
new artifact self-flags load contamination.

Canary calibration (r8 verdict item 1): the original gate normalized
by the SINGLE-THREAD canary alone and failed its own same-code
artifact — the canary ran 0.88x (single-thread turbo recovered)
while 32-thread query walls did not move, so dividing raw ratios by
0.88 inflated every normalized ratio ~14% and pushed two queries over
the 1.25 bar at raw 1.12x.  Two fixes, both here:

- ``bench.py`` now also records ``cpu_canary_mt_s`` — the SAME
  checksum workload fanned across all cores.  When the two canaries
  CORROBORATE (ratios within 15%) the tool normalizes by the
  MULTI-THREAD ratio — the reference 32-thread query walls actually
  track — and a normalized regression gates alone.  When they
  diverge, or a legacy artifact has only the single-thread canary
  (the exact r8 false-alarm configuration), the tool normalizes by
  whichever available ratio is closer to 1 and a query gates only if
  BOTH its raw AND its normalized ratio exceed the threshold.
- The raw-AND-norm fallback is a deliberate recall trade, stated
  plainly: under uncorroborated canaries a real regression that a
  genuine host SPEEDUP hides in raw (host 0.5x, code 1.6x -> raw
  0.8x) is NOT caught — that is the price of eliminating the r8
  same-code false alarm, paid only on artifact pairs whose host
  reading is untrustworthy.  The mt canary exists precisely so
  post-r9 artifact pairs corroborate and take the norm-alone path,
  where both mask directions are caught.

Bracketed-mean normalization (r10): each canary is sampled before AND
after the timed queries; every ratio above is computed from the MEAN
of the two samples, which is centered on the window the queries ran
in.  Start-only normalization mis-read any run where contention
arrived mid-run — observed on same-code runs nine minutes apart: one
passed the gate with margin, the other's mt canary drifted 0.112s ->
0.137s within the run (external load climbing to 11) and start-only
normalization inflated three queries past 1.25x; their bracketed
ratios read 0.99-1.22x.  A within-run canary drift beyond 20% is
additionally called out as a note line.  Legacy artifacts without end
samples fall back to start-only, unchanged.

Noise-banded corroborated gating (r10): five same-code bench runs in
one evening spread individual sub-second query walls up to 1.32x
(min-of-5 each) while artifact TOTALS spread only 0.97-1.13x
normalized — a single-run per-query norm-alone gate at 1.25x
false-fails ~1 run in 5 on this host.  Under corroborated canaries a
query therefore gates when: raw AND norm both exceed the threshold;
OR norm exceeds `hard` (2x the margin — 1.5 at the default gate,
outside any observed same-code spread); OR norm exceeds the threshold
AND the artifact total's normalized ratio exceeds `total_bar` (1.20
at the default gate — a uniform slowdown raw-masked by host speedup).
A band exceedance with a flat total is printed as WATCH, not gated —
unless multiple queries land in the band on the same pair AND the
total corroborates: on a bracketed pair, 2+ simultaneous exceedances
escalate to gated regressions when the total's normalized ratio
clears a bar scaled DOWN by the exceedance count (1.20 - 0.05*n:
1.10 at two, 1.05 at three — the r12 verdict's scaled-bar option,
recalibrated r13 after an archived same-code pair produced 2-3 band
exceedances with totals at 0.91-1.10x, falsifying count-alone
escalation); legacy unbracketed pairs keep the r12 unconditional 3+
rule. Escalated rows have their WATCH marks rewritten to
"escalated: gated" so the report text agrees with the gate outcome.
Documented escape, stated honestly: band exceedances whose combined
impact keeps the total under the scaled bar (~10% of total wall at
two exceedances) — bounded by the bar, and caught next round when
the anchor rotates under them.

Per-query bracket normalization (r11): artifacts now carry
``query_canary_mt_s`` — [before, after] mt samples tight around each
query's timed min-of-n. When both artifacts carry them, the pair's
host factor is the MEDIAN of the per-query bracket ratios (24+
samples spanning the query section, vs 2 at the run edges), except
that a query whose own ratio deviates from the median by >1.3x was
locally contended and normalizes by its own ratio (individual
brackets carry ±20% sample noise that min-of-n walls don't follow —
normalizing a flat same-code query by its own bracket read it 1.22x).

Two-session gating (r11): bracketed artifacts are TWO-SESSION
minimums (bench.py re-rolls the C2 JIT lottery across two JVMs after
single-session same-code walls measured up to 1.46x apart with flat
brackets — a session-lifetime property no canary can see). For these
pairs raw agreement is NOT extra evidence (the same-code noise mode
is exactly flat brackets with raw == norm: a 0.28s query read 1.31x
raw-and-norm on same code), so the whole (threshold, hard_br] band is
WATCH regardless of raw, and a query gates only beyond hard_br (1.40
at the default gate — the simulated two-session same-code envelope is
0.78-1.28x) or when the artifact TOTAL corroborates a real slowdown
(total_bar). Totals are far more stable than per-query walls: four
same-code single-session runs spread totals 1.06x while individual
queries spread 1.46x.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

# Multi-query band gate (r12, recalibrated r13): the (threshold, hard]
# WATCH band exists because SINGLE-query walls are noisy (same-code
# spread to 1.32x), but several queries landing in the band on ONE
# pair can be a real dispersed regression — three 1.39x readings move
# a total only ~1.07x and previously escaped both the per-query and
# total bars entirely. COUNTING ALONE is not a same-code
# discriminator: the archived r13 same-code pair
# (history/bench_r13_selfpair_*.json — two clean admitted
# windows, flat corroborated canaries, engine identical) produced 2-3
# simultaneous band exceedances in one direction and a 1.79x
# single-query draw (emb_cosine_topk 0.278s -> 0.493s, two-session
# minimums notwithstanding), while its TOTALS stayed within 0.91-1.10x
# — totals are the same-code-stable quantity, per-query walls are not.
# So on a bracketed pair, n >= WATCH_GATE_N_BRACKETED (2) band
# exceedances escalate to gated regressions ONLY when the artifact
# total corroborates at a bar scaled DOWN by the exceedance count
# (total_bar - WATCH_TOTAL_SLOPE*n: 1.10 at n=2, 1.05 at n=3, 1.20
# baseline — the r12 verdict's scaled-bar option), which catches the
# dispersed-regression attack (3 x 1.39x on 0.3s queries moves a 5.3s
# total ~1.07x > the 1.05 bar) while passing the archived same-code
# pair (2 exceedances, total 0.91x). Legacy unbracketed pairs keep the
# r12 unconditional >= 3 rule (their calibration saw at most one band
# hit per pair).
#
# FLOOR (r13 ADVICE finding 1): the raw linear scale-down walks the
# bar INTO the documented same-code TOTAL envelope — normalized
# same-code totals spread up to 1.13x across five runs (1.18x on the
# committed anchor/BENCH_r09 pair), yet the unfloored bar read 1.05 at
# n=3 and crossed 1.00 at n>=4, where a FASTER total would
# "corroborate" a regression. So the exceedance count is capped at 3
# and the bar floored at threshold*0.4 over 1 (1.10 at the default
# gate) — never below the scale a real dispersed regression actually
# moves a total (3 x 1.39x on 0.3s queries moves a 5.3s total ~1.07x;
# that specific shape now escapes the total bar BY DESIGN, because a
# 1.05 bar cannot tell it from same-code noise). The remaining
# detectors for the under-floor shape are the cross-round
# `watch_ledger` escalation below (a query camping in the band two
# committed artifacts in a row gates regardless of total) and anchor
# rotation.
WATCH_GATE_N = 3
WATCH_GATE_N_BRACKETED = 2
WATCH_TOTAL_SLOPE = 0.05
WATCH_TOTAL_FLOOR_FRAC = 0.4  # scaled-bar floor: 1 + (threshold-1)*this
WATCH_N_CAP = 3  # exceedance count stops lowering the bar past this
# Archived same-code PER-QUERY normalized spread (five single-evening
# runs, min-of-5 each, flat loadavg): the envelope --mint-anchor holds
# a single-window anchor candidate to. A candidate whose per-query
# values sit OUTSIDE it against the current anchor is a lottery draw
# (the archived fast window read emb_cosine_topk 0.278s vs the
# anchor's 0.442s = 0.63x — that anchor would read same-code runs at
# up to 1.79x and gate-fail them), not a blessable reference.
SAME_CODE_QUERY_ENVELOPE = 1.32


def load(path: str) -> dict:
    """Read an artifact; unwrap the driver's {"parsed": ...} envelope."""
    with open(path) as f:
        art = json.loads(f.read())
    if "queries" not in art and isinstance(art.get("parsed"), dict):
        return art["parsed"]
    return art


def compare(
    old: dict, new: dict, threshold: float = 1.10
) -> tuple[list[str], list[str], list[str], list[str]]:
    """Return (report lines, regressions beyond host drift, gate errors,
    WATCH hits).

    ``gate errors`` are conditions that make the comparison itself
    untrustworthy under --gate (missing canary, self-flagged artifacts)
    — a gate that silently falls back to raw ratios would fail on host
    drift and pass on real regressions in a fast window.

    ``WATCH hits`` are queries whose normalized ratio exceeded the
    threshold inside the same-code noise band with a flat total — not
    gated (see the noise-band rationale in the module docstring), but
    returned as data and printed as a single greppable ``WATCH:`` line
    so repeated WATCHes on the same query can be tracked across rounds
    instead of relying on a human reading the per-query prose."""
    lines: list[str] = []
    errors: list[str] = []
    watch: list[str] = []

    def bracket(art: dict, start_key: str, end_key: str):
        # each canary is sampled BEFORE and AFTER the timed queries;
        # their mean is centered on the window the queries actually ran
        # in. Normalizing by the start sample alone mis-reads any run
        # where contention arrives mid-run (observed on same-code runs:
        # mt start 0.112 -> end 0.137 while external load climbed to 11
        # — start-only normalization inflated three queries past the
        # 1.25x gate; the bracketed mean read them 0.99-1.22x). Legacy
        # artifacts without the end sample fall back to start-only.
        s, e = art.get(start_key), art.get(end_key)
        return (s + e) / 2.0 if s and e else s

    c_old = bracket(old, "cpu_canary_s", "cpu_canary_end_s")
    c_new = bracket(new, "cpu_canary_s", "cpu_canary_end_s")
    mt_old = new_mt = None
    th_old, th_new = old.get("cpu_canary_mt_threads"), new.get("cpu_canary_mt_threads")
    if th_old and th_new and th_old != th_new:
        # the mt canary's wall time scales with its thread count: ratios
        # across different counts measure configuration, not host speed
        lines.append(
            f"note: mt canary thread counts differ ({th_old} vs {th_new}) — "
            "mt ratio not comparable, ignored"
        )
    else:
        mt_old = bracket(old, "cpu_canary_mt_s", "cpu_canary_mt_end_s")
        new_mt = bracket(new, "cpu_canary_mt_s", "cpu_canary_mt_end_s")
    host_st = c_new / c_old if c_old and c_new else None
    host_mt = new_mt / mt_old if mt_old and new_mt else None
    drift_watch = [("cpu_canary_s", "cpu_canary_end_s", "1t")]
    if host_mt is not None:
        # the drift note claims "bracketed mean used for normalization",
        # so it must only fire when the mt ratio actually ENTERS a
        # normalization candidate: ignored-for-thread-mismatch OR
        # one-sided mt samples (host_mt None) never feed a ratio, and a
        # note on them would make the same misleading claim the guard
        # exists to prevent
        drift_watch.append(("cpu_canary_mt_s", "cpu_canary_mt_end_s", "mt"))
    for art, label in ((new, "new"), (old, "old")):
        for sk, ek, nm in drift_watch:
            s, e = art.get(sk), art.get(ek)
            if s and e and abs(e / s - 1.0) > 0.20:
                lines.append(
                    f"note: {label} artifact's {nm} canary drifted {s:.3f}s -> "
                    f"{e:.3f}s WITHIN the run (mid-run host drift; bracketed "
                    "mean used for normalization)"
                )
    # corroborated = the two canaries agree on the host factor; only
    # then is a normalized ratio trustworthy enough to gate ALONE
    corroborated = (
        host_st is not None
        and host_mt is not None
        and abs(host_st / host_mt - 1.0) <= 0.15
    )
    # normalization factor: when the canaries corroborate, use the
    # MULTI-THREAD ratio — it is the reference 32-thread query walls
    # actually track (normalizing by the st ratio here would be
    # gate-LENIENT whenever the host sped up: st 0.80/mt 0.70 hides a
    # 1.4x regression at norm 1.22). When they diverge — or only one
    # canary exists — take the available ratio closest to 1; the
    # raw-AND-norm gate rule below carries the residual uncertainty.
    if corroborated:
        host = host_mt
    else:
        candidates = [h for h in (host_st, host_mt) if h]
        host = min(candidates, key=lambda h: abs(h - 1.0)) if candidates else 1.0
    if host_st is not None or host_mt is not None:
        parts = []
        if host_st is not None:
            parts.append(f"1t canary {c_old:.3f}s -> {c_new:.3f}s ({host_st:.2f}x, bracketed means)")
        if host_mt is not None:
            parts.append(f"mt canary {mt_old:.3f}s -> {new_mt:.3f}s ({host_mt:.2f}x, bracketed means)")
        why = "mt, corroborated" if corroborated else "ratio nearest 1"
        lines.append("host speed: " + "; ".join(parts) + f"; normalizing by {host:.2f}x ({why})")
        if host_st is not None and host_mt is None:
            if not 0.8 <= host_st <= 1.25:
                # the only canary is SINGLE-THREAD: across windows whose
                # clocks differ this much, single-thread turbo and
                # all-core throughput scale differently (observed: a
                # 1.55x canary swing moved 32-thread query times only
                # ~1.25x; a 0.88x swing moved them not at all).
                lines.append(
                    f"caution: canary windows differ {host:.2f}x — "
                    "single-thread normalization is approximate at this gap; "
                    "read normalized ratios with ~25% uncertainty"
                )
        elif host_st is not None and not corroborated:
            lines.append(
                f"caution: 1t ({host_st:.2f}x) and mt ({host_mt:.2f}x) canaries "
                "disagree — mixed host drift; a regression gates only if "
                "BOTH raw and normalized exceed the threshold"
            )
    if host_st is None:
        missing = [
            name
            for name, c in (("old", c_old), ("new", c_new))
            if not c
        ]
        lines.append(
            f"host speed: no cpu_canary_s in {'/'.join(missing)} artifact"
            + (
                " — normalized column uses the mt canary alone"
                if host_mt is not None
                else " — RAW ratios (host drift not separable from code change)"
            )
        )
        errors.append(f"cpu_canary_s missing in {'/'.join(missing)} artifact")
    io_old, io_new = old.get("io_canary_write_mbps"), new.get("io_canary_write_mbps")
    if io_old and io_new:
        lines.append(
            f"io speed: write canary {io_old:.0f} -> {io_new:.0f} MB/s "
            f"({io_new / io_old:.2f}x; read ingest deltas against this)"
        )
    for art, label in ((old, "old"), (new, "new")):
        flags = [
            k
            for k in ("load_contaminated", "ingest_noisy")
            if art.get(k)
        ]
        if flags:
            lines.append(f"warning: {label} artifact self-flags {flags}")
            if label == "new" and "load_contaminated" in flags:
                errors.append("new artifact self-flags load_contaminated")

    # per-query mt-canary brackets (r11): [before, after] samples taken
    # tight around each query's timed min-of-n. Run-wide brackets
    # normalize every query by the same factor, but both r11 same-code
    # runs drifted WITHIN the query section (one query's window read
    # 2x slower while the run edges read flat) — per-query brackets
    # attribute the drift to the queries it actually hit.
    #
    # Two-level use, calibrated on the r11 same-code pair:
    # - the MEDIAN of all per-query bracket ratios is the pair's host
    #   factor for bracketed queries (12 brackets spanning the whole
    #   query section beat the 2-sample run edges);
    # - a query whose own bracket ratio deviates from that median by
    #   more than 1.3x was LOCALLY contended (run 3: one query's
    #   opening sample read 0.400s vs 0.085s idle) and normalizes by
    #   its own ratio. Inside 1.3x, individual brackets carry ±20%
    #   sample noise that min-of-n walls do NOT follow — normalizing a
    #   flat pair by them INJECTED up to 24% error on same-code runs
    #   (raw 0.98x -> "norm" 1.22x), so near-median queries use the
    #   median.
    qc_old = old.get("query_canary_mt_s") or {}
    qc_new = new.get("query_canary_mt_s") or {}
    if th_old and th_new and th_old != th_new:
        qc_old, qc_new = {}, {}  # same incomparability as the run-wide mt ratio

    def q_bracket_own(name):
        bo, bn = qc_old.get(name), qc_new.get(name)
        if not bo or not bn or len(bo) != 2 or len(bn) != 2:
            return None
        if not all(v and v > 0 for v in (*bo, *bn)):
            return None
        return (bn[0] + bn[1]) / (bo[0] + bo[1])

    _own = {n: q_bracket_own(n) for n in set(qc_old) & set(qc_new)}
    _ratios = [r for r in _own.values() if r is not None]
    # true median (r12 advice): the upper-middle element biased every
    # even-count pair (the standard 12-row bench) toward the larger
    # bracket ratio — a systematically gate-lenient host factor
    bracket_median = statistics.median(_ratios) if _ratios else None

    def q_bracket(name):
        own = _own.get(name)
        if own is None or bracket_median is None:
            return None
        if not (1 / 1.3) <= own / bracket_median <= 1.3:
            return own  # locally contended window: trust its own bracket
        return bracket_median

    qo, qn = old.get("queries", {}), new.get("queries", {})
    n_br = sum(1 for n in set(qo) & set(qn) if q_bracket(n) is not None)
    if n_br:
        n_local = sum(
            1
            for n in set(qo) & set(qn)
            if q_bracket(n) is not None and q_bracket(n) != bracket_median
        )
        lines.append(
            f"per-query mt brackets: {n_br}/{len(set(qo) | set(qn))} queries "
            f"normalize by the bracket-ratio median {bracket_median:.2f}x"
            + (
                f" ({n_local} locally-contended by their own ratio)"
                if n_local
                else ""
            )
        )
    # noise-banded corroborated gating (r10): `hard` sits outside the
    # worst same-code per-query spread measured on this host (1.32x
    # across five runs in one evening); `total_bar` sits above the
    # worst same-code TOTAL spread (1.13x normalized across those five
    # runs, 1.18x on the committed same-code anchor/BENCH_r09 pair —
    # the mt canary itself swings ~10% between same-host windows and
    # that swing lands directly in every normalized total). At the
    # default gate threshold 1.25 these are 1.50 and 1.20.
    hard = 1.0 + (threshold - 1.0) * 2.0
    total_bar = 1.0 + (threshold - 1.0) * 0.8
    # bracketed pairs get a tighter hard bar (1.40 at the default
    # gate): bracketed artifacts are two-session minimums (bench.py
    # re-rolls the C2 JIT lottery across two JVMs — single-session
    # same-code walls differed up to 1.46x with flat brackets), and
    # the two-session same-code envelope simulated on the four r11
    # runs is 0.78-1.28x. 1.40 clears that envelope with margin; the
    # legacy 1.5x bar stays for single-session (unbracketed) pairs.
    hard_br = 1.0 + (threshold - 1.0) * 1.6
    _vo, _vn = old.get("value"), new.get("value")
    total_norm = (
        (_vn / _vo) / (bracket_median if bracket_median is not None else host)
        if _vo and _vn
        else None
    )
    lines.append(
        f"{'query':<30} {'old_s':>7} {'new_s':>7} {'raw':>6} {'norm':>6}"
    )
    worse: list[str] = []
    # row index of each WATCH-marked line, so the multi-query
    # escalation below can rewrite the mark instead of leaving a
    # "WATCH, not gated" annotation on a row the gate then gates
    # (r12 ADVICE: the report text contradicted the gate outcome)
    watch_line_idx: dict[str, int] = {}
    for name in sorted(set(qo) | set(qn)):
        if name not in qo or name not in qn:
            lines.append(f"{name:<30} {'only in ' + ('new' if name in qn else 'old')}")
            if name not in qn:
                # an anchor query absent from the new artifact is a
                # dropped/renamed bench row — it must not escape the
                # standing gate the way a failed (null) query doesn't
                errors.append(f"{name} missing from new artifact")
            continue
        # bench.py records FAILED queries as null (and keeps going) —
        # partial artifacts are exactly the flagged runs this tool
        # exists to read, so report the failure instead of dividing
        if not qo[name] or not qn[name]:
            state = ", ".join(
                f"{lbl} {'failed' if q[name] is None else q[name]}"
                for lbl, q in (("old", qo), ("new", qn))
                if not q[name]
            )
            lines.append(f"{name:<30} not comparable ({state})")
            if qn.get(name) is None:
                errors.append(f"{name} failed in new artifact")
            continue
        raw = qn[name] / qo[name]
        q_h = q_bracket(name)
        norm = raw / (q_h if q_h is not None else host)
        mark = ""
        if q_h is not None and norm > threshold:
            # bracketed pair: raw agreement is NOT extra evidence here
            # — the same-code noise mode IS flat brackets with raw ==
            # norm (the r11 calibration pair read a 0.28s query at
            # 1.31x raw-and-norm on same code), so the band protects
            # raw-agreeing exceedances too. Gates on: norm beyond the
            # two-session hard bar, or the artifact TOTAL corroborating
            # a real slowdown. Anything else in (threshold, hard_br] is
            # WATCH — tracked, not gated.
            if norm > hard_br or (total_norm is not None and total_norm > total_bar):
                mark = "  <-- slower beyond host drift"
                worse.append(name)
            else:
                mark = (
                    "  (norm in same-code noise band; total flat — WATCH,"
                    " not gated)"
                )
                watch.append(name)
                watch_line_idx[name] = len(lines)  # the row appended below
        elif norm > threshold and raw > threshold:
            # raw and normalized agree the query got slower — gates on
            # every path (host drift cannot explain both directions)
            mark = "  <-- slower beyond host drift"
            worse.append(name)
        elif norm > threshold and corroborated:
            # normalized-only exceedance under corroborated canaries.
            # Single-run per-query walls are NOISY: five same-code
            # bench runs in one evening spread individual sub-second
            # queries up to 1.32x (min-of-5 each, flat loadavg) while
            # their TOTALS spread only 0.97-1.13x normalized. So a
            # norm-only exceedance in the (threshold, hard] band gates
            # only when the artifact TOTAL corroborates a real
            # slowdown; beyond `hard` (outside any observed same-code
            # spread) it gates alone — which keeps the raw-masked
            # catch: a genuine regression the host speedup hides in
            # raw reads norm >= the regression itself.
            if norm > hard or (total_norm is not None and total_norm > total_bar):
                mark = "  <-- slower beyond host drift"
                worse.append(name)
            else:
                mark = (
                    "  (norm in same-code noise band; total flat — WATCH,"
                    " not gated)"
                )
                watch.append(name)
                watch_line_idx[name] = len(lines)  # the row appended below
        elif norm > threshold:
            # normalized-only exceedance under an uncorroborated canary:
            # the r8 false-alarm mode (single-thread turbo moved, the
            # 32-thread walls didn't) — surface it, don't gate on it
            mark = "  (norm over threshold but raw ok — canary over-correction band)"
        elif raw > threshold:
            mark = "  (raw over threshold, explained by host drift)"
        elif norm < 1.0 / threshold:
            mark = "  (faster)"
        lines.append(
            f"{name:<30} {qo[name]:>7.3f} {qn[name]:>7.3f} "
            f"{raw:>5.2f}x {norm:>5.2f}x{mark}"
        )
    # bracketed pairs: >= 2 simultaneous band exceedances escalate when
    # the total corroborates at the count-scaled bar (counting alone
    # false-fails same-code pairs — see WATCH_TOTAL_SLOPE calibration);
    # legacy unbracketed pairs keep the r12 unconditional >= 3 rule
    if bracket_median is not None:
        # floored scale-down (see WATCH_TOTAL_FLOOR_FRAC rationale):
        # 1.10 at n=2 and n>=3 at the default gate — the bar never
        # enters the 1.13-1.18x same-code total envelope's sub-1.10
        # region where a same-code pair would false-gate
        scaled_bar = max(
            total_bar - WATCH_TOTAL_SLOPE * min(len(watch), WATCH_N_CAP),
            1.0 + (threshold - 1.0) * WATCH_TOTAL_FLOOR_FRAC,
        )
        escalate = (
            len(watch) >= WATCH_GATE_N_BRACKETED
            and total_norm is not None
            and total_norm > scaled_bar
        )
        gate_n = WATCH_GATE_N_BRACKETED
    else:
        scaled_bar = None
        escalate = len(watch) >= WATCH_GATE_N
        gate_n = WATCH_GATE_N
    if len(watch) >= gate_n and not escalate and bracket_median is not None:
        lines.append(
            f"{len(watch)} band exceedances but total_norm "
            f"{total_norm if total_norm is not None else float('nan'):.2f}x "
            f"is under the scaled bar {scaled_bar:.2f}x "
            "— same-code dispersion mode (archived r13 self-pair), not gated"
        )
    if escalate:
        # a dispersed regression: several band exceedances AND the
        # total corroborates (bracketed), or >= 3 on a legacy pair
        lines.append(
            f"{len(watch)} queries exceed the threshold in the noise band "
            f"simultaneously (>= {gate_n}"
            + (
                f") and total corroborates at the scaled bar"
                if bracket_median is not None
                else ")"
            )
            + " — beyond the single-query "
            "noise mode; escalating all band exceedances to gated regressions"
        )
        # rewrite the already-rendered WATCH marks so the per-query rows
        # agree with the gate outcome (r12 ADVICE finding 3). The WHOLE
        # parenthetical is replaced (r13 ADVICE finding 4): escalation
        # on bracketed pairs fires precisely because the total was NOT
        # flat, so the retained "total flat" text contradicted the
        # outcome it annotated.
        for _n, _i in watch_line_idx.items():
            if _n in watch:
                lines[_i] = lines[_i].replace(
                    "(norm in same-code noise band; total flat — WATCH,"
                    " not gated)",
                    "(band exceedance, total corroborates — escalated:"
                    " gated)",
                )
        worse.extend(sorted(watch))
        watch = []
    # Cross-round slow-creep ledger (r13 verdict item 6): the band's
    # per-round escape is bounded, but the SAME query sitting in the
    # band in two consecutive committed artifacts is creep, not the
    # JIT lottery — bench.py stamps each artifact's own band list
    # (measured against the committed anchor) into `watch_ledger`, and
    # a query both in the old artifact's ledger AND in this pair's band
    # gates even with a flat total. Old artifacts without the field
    # (pre-r14) simply disable the check.
    prior_ledger = set(old.get("watch_ledger") or [])
    repeat = sorted(n for n in watch if n in prior_ledger)
    if repeat:
        lines.append(
            "slow-creep: "
            + ", ".join(repeat)
            + " in the WATCH band in two consecutive artifacts (old "
            "watch_ledger + this pair) — escalating despite flat total"
        )
        for _n in repeat:
            _i = watch_line_idx.get(_n)
            if _i is not None:
                lines[_i] = lines[_i].replace(
                    "(norm in same-code noise band; total flat — WATCH,"
                    " not gated)",
                    "(band exceedance, repeated across rounds —"
                    " escalated: gated)",
                )
        worse.extend(repeat)
        watch = [n for n in watch if n not in repeat]
    vo, vn = old.get("value"), new.get("value")
    if vo and vn:
        # display the SAME normalized total the total_bar gate reads
        # (bracket-ratio median when available, run-wide host otherwise)
        lines.append(
            f"{'TOTAL':<30} {vo:>7.3f} {vn:>7.3f} "
            f"{vn / vo:>5.2f}x {total_norm if total_norm is not None else vn / vo / host:>5.2f}x"
        )
    io, in_ = old.get("ingest_mbps"), new.get("ingest_mbps")
    if io and in_:
        io_norm = ""
        if io_old and io_new:
            io_ratio = io_new / io_old
            io_norm = f" ({in_ / io / io_ratio:.2f}x io-normalized)"
            if abs(1.0 - (in_ / io) / io_ratio) < 0.25:
                # the ingest delta tracks the fixed-size io canary's
                # delta — host I/O, not code (r8 verdict item 6: 45-96%
                # trial spreads on this shared VM make the raw median
                # swing 2x; only deltas BEYOND the canary's are signal)
                io_norm += " — explained by io canary"
        lines.append(f"{'INGEST (median MB/s)':<30} {io:>7.1f} {in_:>7.1f} {in_ / io:>5.2f}x{io_norm}")
    if worse:
        lines.append(
            f"beyond-host-drift regressions (norm > {threshold:g}x): "
            + ", ".join(worse)
        )
    else:
        lines.append(
            f"no query slower than {threshold:g}x after host normalization"
        )
    if watch:
        # machine-readable WATCH summary: one greppable line, stable
        # prefix, sorted names — diffable across rounds
        lines.append("WATCH: " + ", ".join(sorted(watch)))
    return lines, worse, errors, watch


MINT_MIN_WINDOWS = 3


def _bracket_mean(art: dict, start_key: str, end_key: str):
    s, e = art.get(start_key), art.get(end_key)
    return (s + e) / 2.0 if s and e else s


def mint_anchor(
    windows: list[dict], current: dict | None = None
) -> tuple[dict | None, list[str]]:
    """Bless (or refuse) a new gate anchor (r13 verdict item 3).

    The failure mode this mechanizes out of existence: refreshing the
    anchor from a session whose JIT lottery came up fast. The archived
    same-code pair (history/bench_r13_selfpair_a.json) drew
    emb_cosine_topk at 0.278s where the standing anchor reads 0.442s —
    an anchor minted from that window would read FUTURE same-code runs
    at up to 1.79x normalized and gate-fail them. Until r14 the only
    guard was prose ("never refresh an anchor from a session's fastest
    window"); this function is the mechanism.

    Two blessable shapes, mirroring the verdict's rule ("medians of
    >= 3 windows OR within the archived same-code envelope of the
    current anchor"):

    - ``len(windows) >= MINT_MIN_WINDOWS``: the minted anchor's
      per-query values are the MEDIANS across the windows (a median of
      3+ lottery draws cannot be the fastest draw), canaries medianed
      likewise; the per-query min/max spread across windows is recorded
      in the artifact (``anchor_minted.envelope``) so the next refresh
      can read the measured same-code envelope instead of citing prose.
    - fewer windows + a ``current`` anchor: EVERY candidate window's
      per-query value must sit inside the archived same-code per-query
      envelope (``SAME_CODE_QUERY_ENVELOPE``, 1.32x) of the current
      anchor after host normalization by the canary-bracket ratio —
      outside it in EITHER direction the draw is lottery (fast side)
      or an unexplained slowdown (slow side), and the mint refuses.

    Returns ``(minted_artifact, messages)``; ``minted_artifact`` is
    ``None`` on refusal, with the reasons in ``messages``.
    """
    msgs: list[str] = []
    if not windows:
        return None, ["no candidate windows given"]
    qsets = [frozenset(w.get("queries") or {}) for w in windows]
    if len(set(qsets)) != 1 or not qsets[0]:
        return None, ["candidate windows disagree on the query set (or it is empty)"]
    for i, w in enumerate(windows):
        flags = [
            k
            for k in ("load_contaminated", "partial", "ingest_window_exhausted")
            if w.get(k)
        ]
        if flags:
            return None, [f"window {i} self-flags {flags} — not anchor material"]
        nulls = sorted(n for n, v in w["queries"].items() if not v)
        if nulls:
            return None, [f"window {i} has failed queries: {', '.join(nulls)}"]
        if w.get("sf") != windows[0].get("sf"):
            return None, [f"window {i} sf={w.get('sf')} differs from window 0"]

    names = sorted(qsets[0])

    def _median_field(key):
        vals = [w[key] for w in windows if w.get(key) is not None]
        return round(statistics.median(vals), 4) if vals else None

    if len(windows) < MINT_MIN_WINDOWS:
        if current is None:
            return None, [
                f"only {len(windows)} window(s): blessing needs >= "
                f"{MINT_MIN_WINDOWS} windows (median mint) or --current "
                "to check the same-code envelope against"
            ]
        cur_q = current.get("queries") or {}
        missing = [n for n in names if not cur_q.get(n)]
        if missing:
            return None, [
                "current anchor lacks queries the candidate carries: "
                + ", ".join(missing)
            ]
        env = SAME_CODE_QUERY_ENVELOPE
        for i, w in enumerate(windows):
            # host factor current -> candidate, bracketed-mean canaries
            # (same preference order as compare(): mt tracks 32-thread
            # query walls; st is the fallback)
            c_mt_old = _bracket_mean(current, "cpu_canary_mt_s", "cpu_canary_mt_end_s")
            c_mt_new = _bracket_mean(w, "cpu_canary_mt_s", "cpu_canary_mt_end_s")
            c_st_old = _bracket_mean(current, "cpu_canary_s", "cpu_canary_end_s")
            c_st_new = _bracket_mean(w, "cpu_canary_s", "cpu_canary_end_s")
            if c_mt_old and c_mt_new and (
                current.get("cpu_canary_mt_threads") == w.get("cpu_canary_mt_threads")
            ):
                host = c_mt_new / c_mt_old
            elif c_st_old and c_st_new:
                host = c_st_new / c_st_old
            else:
                return None, [
                    f"window {i} / current anchor lack comparable canaries — "
                    "cannot host-normalize the envelope check"
                ]
            out_of_env = []
            for n in names:
                ratio = (w["queries"][n] / cur_q[n]) / host
                if not (1.0 / env) <= ratio <= env:
                    side = "fast lottery draw" if ratio < 1 else "unexplained slowdown"
                    out_of_env.append(f"{n} {ratio:.2f}x ({side})")
            if out_of_env:
                return None, [
                    f"window {i} outside the archived same-code envelope "
                    f"(1/{env:g}x..{env:g}x vs current anchor, host-normalized "
                    f"{host:.2f}x): " + "; ".join(out_of_env),
                    f"refusing to bless — mint from >= {MINT_MIN_WINDOWS} "
                    "windows instead (medians survive lottery draws)",
                ]
        msgs.append(
            f"{len(windows)} window(s) inside the same-code envelope of the "
            "current anchor — blessed"
        )

    minted: dict = {
        "metric": windows[0].get("metric", "headline_queries_total"),
        "unit": windows[0].get("unit", "sec"),
        "sf": windows[0].get("sf"),
        "queries": {
            n: round(statistics.median([w["queries"][n] for w in windows]), 3)
            for n in names
        },
    }
    minted["value"] = round(sum(minted["queries"].values()), 3)
    for key in (
        "cpu_canary_s",
        "cpu_canary_end_s",
        "cpu_canary_mt_s",
        "cpu_canary_mt_end_s",
        "io_canary_write_mbps",
        "io_canary_read_mbps",
        "ingest_mbps",
    ):
        v = _median_field(key)
        if v is not None:
            minted[key] = v
    threads = {w.get("cpu_canary_mt_threads") for w in windows}
    if len(threads) == 1 and None not in threads:
        minted["cpu_canary_mt_threads"] = threads.pop()
    # per-query brackets: elementwise medians, only when every window
    # carries a complete bracket for the query
    qcs = [w.get("query_canary_mt_s") or {} for w in windows]
    brackets = {}
    for n in names:
        bs = [qc.get(n) for qc in qcs]
        if all(b and len(b) == 2 and all(b) for b in bs):
            brackets[n] = [
                round(statistics.median([b[0] for b in bs]), 4),
                round(statistics.median([b[1] for b in bs]), 4),
            ]
    if len(brackets) == len(names):
        minted["query_canary_mt_s"] = brackets
    minted["anchor_minted"] = {
        "windows": len(windows),
        "policy": (
            f"median-of-{len(windows)}"
            if len(windows) >= MINT_MIN_WINDOWS
            else f"single-window, inside {SAME_CODE_QUERY_ENVELOPE:g}x same-code "
            "envelope of prior anchor"
        ),
        # the measured per-query envelope across the minting windows:
        # the next refresh's same-code evidence, recorded in the
        # artifact instead of prose
        "envelope": {
            n: [
                round(min(w["queries"][n] for w in windows), 3),
                round(max(w["queries"][n] for w in windows), 3),
            ]
            for n in names
        },
    }
    msgs.append(
        f"minted anchor: {len(names)} queries, total {minted['value']}s, "
        f"policy {minted['anchor_minted']['policy']}"
    )
    return minted, msgs


def mint_main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(
        description="Bless a new gate anchor from candidate bench windows "
        "(refuses fast lottery draws — see mint_anchor)"
    )
    p.add_argument("--windows", nargs="+", required=True, help="candidate artifact paths")
    p.add_argument(
        "--current",
        default=None,
        help="current anchor (required when fewer than "
        f"{MINT_MIN_WINDOWS} windows are given)",
    )
    p.add_argument("--out", required=True, help="path to write the minted anchor")
    p.add_argument("--provenance", default="", help="free-text provenance note")
    args = p.parse_args(argv)
    windows = [load(w) for w in args.windows]
    current = load(args.current) if args.current else None
    minted, msgs = mint_anchor(windows, current)
    for m in msgs:
        print(m)
    if minted is None:
        print("MINT: REFUSED")
        return 1
    if args.provenance:
        minted["_provenance"] = args.provenance
    with open(args.out, "w") as f:
        json.dump(minted, f, indent=1, sort_keys=True)
    print(f"MINT: blessed -> {args.out}")
    return 0


def main(argv: list[str]) -> int:
    if "--mint-anchor" in argv:
        return mint_main([a for a in argv if a != "--mint-anchor"])
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument(
        "--gate",
        action="store_true",
        help="exit 1 on any regression beyond the threshold (default "
        "1.25 under --gate; normalized-only when the 1t/mt canaries "
        "corroborate, raw AND normalized otherwise), on a missing "
        "canary, on an anchor query missing/failed in the new "
        "artifact, or on a self-flagged new artifact",
    )
    args = p.parse_args(argv)
    threshold = args.threshold if args.threshold is not None else (1.25 if args.gate else 1.10)
    lines, worse, errors, _watch = compare(load(args.old), load(args.new), threshold)
    for line in lines:
        print(line)
    if not args.gate:
        return 0
    if errors:
        print(f"GATE: not comparable — {'; '.join(errors)}")
        return 1
    if worse:
        print(f"GATE: FAIL — normalized regression > {threshold:g}x: {', '.join(worse)}")
        return 1
    print(f"GATE: pass (no normalized regression > {threshold:g}x)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
