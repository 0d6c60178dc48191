#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

from callysto_spark.queries import load_all
from callysto_spark.session import get_spark


def wait_for_idle_machine() -> tuple[float, bool]:
    """Admission gate: refuse to start the timed sections on a loaded box.

    BENCH_r06.json was a load artifact (loadavg_1m 11.2 on a 32-cpu VM,
    every headline +2%…+42% vs the idle record, ingest spread 59.9%) —
    the honesty flag caught it, but the committed artifact and the
    trustworthy measurement lived in different files. This gate makes
    the committed JSON idle-certified BY CONSTRUCTION: sample the
    1-minute load average before creating the SparkSession (so our own
    JVM doesn't count) and wait, in bounded retries, until it falls
    under SPARK_GRAFT_LOAD_MAX. If the budget is exhausted the bench
    still runs — a flagged number beats no number — but the JSON
    carries ``load_contaminated: true`` and the process exits 2 so a
    contaminated round fails loudly instead of masquerading as clean.

    Returns (admitted_loadavg, contaminated).
    """
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "4.0"))
    retries = int(os.environ.get("SPARK_GRAFT_LOAD_RETRIES", "20"))
    wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "30"))
    load = os.getloadavg()[0]
    for attempt in range(retries):
        if load <= load_max:
            break
        print(
            f"# load gate: loadavg_1m={load:.1f} > {load_max:g}; "
            f"waiting {wait:g}s ({attempt + 1}/{retries})",
            file=sys.stderr,
        )
        time.sleep(wait)
        load = os.getloadavg()[0]
    contaminated = load > load_max
    state = "CONTAMINATED (budget exhausted)" if contaminated else "admitted"
    print(f"# load gate: loadavg_1m={load:.1f} {state}", file=sys.stderr)
    return round(load, 1), contaminated


def cpu_canary() -> float:
    """Fixed CPU reference workload — the host-speed figure loadavg can't see.

    The load gate certifies the box is EMPTY, not that it is FAST: an
    r7 session measured every headline query uniformly 1.3–1.9× slower
    (total 7.74s vs the r6 idle record 5.27s) at loadavg_1m 0.3 and 0%
    steal — the shared host itself was running ~1.4× below its usual
    clock, exactly matching a single-thread reference loop (1.65s vs
    the ~1.15s it takes when the box is at full speed). Without a
    per-run speed reference, that reads as a code regression in the
    round-over-round diff.

    The canary is min-of-3 of a deterministic single-thread pair:
    sha256 over 128 MiB (C-speed) plus a 5M-iteration interpreter
    loop — observed 0.28s (fast window) to 0.55s (slow window) on this
    host WITHIN one r7 session, ~1.6s total cost. Compare rounds as
    value/canary ratios: if BENCH_r8's canary is 0.8× r7's, 0.8× on
    every query is the host, not the code.
    """
    import hashlib

    best = float("inf")
    block = b"\x5a" * (1 << 20)
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(128):
            h.update(block)
        x = 0
        for i in range(5_000_000):
            x += i
        best = min(best, time.perf_counter() - t0)
    print(f"# cpu canary: {best:.3f}s (min of 3; observed 0.28-0.55s on this host)", file=sys.stderr)
    return round(best, 3)


def cpu_canary_mt(n_threads: int = 32) -> float:
    """All-core companion to :func:`cpu_canary` (r8 verdict item 1).

    The single-thread canary measures turbo-clock single-core speed,
    but the headline queries run 32 tasks wide — and on this shared
    host the two drift INDEPENDENTLY (r8: the 1t canary recovered to
    0.88x while 32-thread query walls didn't move, so normalizing by
    it alone inflated same-code ratios ~14% and false-alarmed the
    gate). This canary fans the same sha256 checksum workload across
    ``n_threads`` OS threads — hashlib releases the GIL on large
    buffers, so the wall time tracks genuine all-core throughput, the
    figure 32-thread query walls actually follow. ``bench_compare``
    reads every canary as the bracketed mean of its before/after
    samples; when the two canary ratios corroborate (within 15%) it
    normalizes by the MULTI-THREAD ratio and gates per query under the
    noise-band rule; bracketed (two-session) artifact pairs instead
    normalize by the per-query bracket-ratio median and gate only
    beyond the 1.40 hard bar or a corroborating total — see
    tools/bench_compare.py's module docstring for the full rules.
    Diverging or legacy (mt-less) canary pairs fall back to the ratio
    nearest 1 under raw-AND-norm gating.

    Min-of-3 like the 1t canary; ~64 MiB hashed per thread per trial.
    """
    import hashlib
    import threading

    block = b"\x5a" * (1 << 20)

    def work() -> None:
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)

    best = float("inf")
    for _ in range(3):
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        best = min(best, time.perf_counter() - t0)
    print(f"# cpu canary (mt, {n_threads} threads): {best:.3f}s (min of 3)", file=sys.stderr)
    return round(best, 3)


def io_canary() -> dict:
    """Fixed-size I/O reference alongside the CPU canary (r7 verdict
    item 6): ingest best-of-5 spreads of 78-96% were the bench's
    noisiest surface, and neither loadavg nor the CPU canary can see
    bursty I/O contention on the shared VM. Two figures, best of 3
    trials each, over one 256 MiB file in the same tempdir the ingest
    bench stages to:

    - ``write_mbps``: sequential write + fsync (the contention-
      sensitive path ingest staging actually exercises);
    - ``read_mbps``: sequential page-cache-warm read (memory-bandwidth
      reference — a drop here means host memory pressure, not disk).

    Cross-round ingest deltas should be read against write_mbps the way
    query deltas are read against cpu_canary_s."""
    import tempfile

    size = 256 << 20
    block = b"\x5a" * (4 << 20)
    n_blocks = size // len(block)
    write_best = read_best = 0.0
    with tempfile.NamedTemporaryFile(prefix="callysto_iocanary_", suffix=".bin") as f:
        for _ in range(3):
            f.seek(0)
            t0 = time.perf_counter()
            for _ in range(n_blocks):
                f.write(block)
            f.flush()
            os.fsync(f.fileno())
            write_best = max(write_best, size / (1 << 20) / (time.perf_counter() - t0))
            f.seek(0)
            t0 = time.perf_counter()
            while f.read(4 << 20):
                pass
            read_best = max(read_best, size / (1 << 20) / (time.perf_counter() - t0))
    out = {"write_mbps": round(write_best, 1), "read_mbps": round(read_best, 1)}
    print(f"# io canary: write {out['write_mbps']:.0f} MB/s, warm read {out['read_mbps']:.0f} MB/s (best of 3)", file=sys.stderr)
    return out


# The driver records only the TAIL of stdout (~2 KB): BENCH_r11's final
# JSON line grew past that with diagnostics (warm_runs, session wins,
# per-trial ingest audit) and the driver captured a mid-line fragment —
# `parsed: null`, the round's official bench record lost (r11 verdict
# item 1). The final stdout line is therefore a HEADLINE bounded well
# under the capture window; the full record goes to a sidecar file and,
# if that fails, to stderr. 1800 leaves ~10% margin under 2048.
HEADLINE_MAX_BYTES = 1800

# Exactly the fields tools/bench_compare.py `compare()` + its --gate
# read, plus the identity/honesty fields the round record needs. Order
# matters only for readability; the set is what the artifact-pair gate
# test pins (a slimming that drops one of these silently un-gates it).
HEADLINE_KEYS = (
    "metric", "value", "unit", "queries", "sf",
    "loadavg_1m", "loadavg_at_gate",
    "cpu_canary_s", "cpu_canary_end_s",
    "cpu_canary_mt_s", "cpu_canary_mt_end_s", "cpu_canary_mt_threads",
    "io_canary_write_mbps", "io_canary_read_mbps",
    "query_canary_mt_s",
    "ingest_mbps", "ingest_mbps_best", "ingest_mbps_norm",
    "ingest_spread_pct", "ingest_raw_spread_pct",
    "load_contaminated", "ingest_noisy", "ingest_window_exhausted",
    "ingest_short_sample", "partial", "n_failed", "errors",
    "watch_ledger",
)


def split_headline(out: dict) -> tuple[dict, dict]:
    """Split the full bench record into (headline, detail).

    ``headline`` is the final-stdout-line dict: the HEADLINE_KEYS
    subset, hard-bounded under HEADLINE_MAX_BYTES when serialized
    compactly. ``detail`` is the FULL record (a superset of headline)
    destined for the detail sidecar — bench_compare.load can read
    either. The sidecar path defaults to BENCH_DETAIL.json (gitignored
    since r13: the driver's per-round run writes there, so a committed
    record at that path would be clobbered — commit self-recorded
    sidecars under a round-stamped name via SPARK_GRAFT_BENCH_DETAIL,
    e.g. BENCH_DETAIL_self_r13.json).

    If the headline still exceeds the bound (e.g. a partial run with
    many long error strings), trim deterministically, most-expendable
    first, and record what was dropped in ``headline_trimmed`` so the
    artifact is honest about its own slimming:
    1. error strings shortened to their exception type;
    2. the errors dict dropped entirely — bench_compare.compare()
       never reads it (``partial`` + ``n_failed`` still say the run
       is broken; per-query nulls in ``queries`` still gate-fail;
       full text lives in the detail sidecar);
    3. per-query mt brackets dropped LAST (they are gate-functional —
       bench_compare's per-query bracket normalization reads them;
       without them it falls back to the run-wide canary brackets —
       normalization survives, coarser);
    4. last resort: collapse to the minimal gate-essential subset
       (metric/value/unit/queries/sf + honesty flags) so the returned
       line is UNCONDITIONALLY under the bound — the r11 loss mode
       (driver captures a mid-line fragment, ``parsed: null``) must
       not be reachable no matter how a future field grows.
    """
    headline = {k: out[k] for k in HEADLINE_KEYS if k in out}
    if "errors" in headline:
        # cap each message; full text lives in the detail record
        headline["errors"] = {k: v[:80] for k, v in headline["errors"].items()}

    def size(d: dict) -> int:
        return len(json.dumps(d, separators=(",", ":")))

    # The headline_trimmed marker is appended AFTER the ladder, so the
    # ladder must leave room for it: without the reserve, a headline
    # passing a step at 1,790 bytes exceeds the bound once the
    # ~40-75-byte marker lands (r13 ADVICE finding 3), and the
    # "UNCONDITIONALLY under the bound" claim below grows a hole.
    # Reserve the worst-case marker (every step's tag) plus the comma.
    _marker_reserve = 1 + len(
        json.dumps(
            {"headline_trimmed": ["error_text", "errors", "query_canary_mt_s", "non_gate_fields"]},
            separators=(",", ":"),
        )
    )
    budget = HEADLINE_MAX_BYTES - _marker_reserve

    trimmed: list[str] = []
    if size(headline) > budget and "errors" in headline:
        headline["errors"] = {
            k: v.split(":", 1)[0] for k, v in headline["errors"].items()
        }
        trimmed.append("error_text")
    if size(headline) > budget and "errors" in headline:
        del headline["errors"]
        trimmed.append("errors")
    if size(headline) > budget and "query_canary_mt_s" in headline:
        del headline["query_canary_mt_s"]
        trimmed.append("query_canary_mt_s")
    if size(headline) > budget:
        # minimal gate-essential headline; everything else is in the
        # detail sidecar. ``queries`` stays (the gate needs per-query
        # walls); honesty flags stay so a broken run still says so;
        # ``watch_ledger`` stays (r14 ADVICE: dropping it silently
        # disables the next round's cross-round slow-creep check —
        # compare() treats a missing ledger as pre-r14 — and it is a
        # short bounded list of query names, same scale as ``queries``).
        minimal = (
            "metric", "value", "unit", "queries", "sf",
            "load_contaminated", "partial", "n_failed",
            "watch_ledger",
        )
        headline = {k: headline[k] for k in minimal if k in headline}
        trimmed.append("non_gate_fields")
    if trimmed:
        headline["headline_trimmed"] = trimmed
    return headline, dict(out)


def emit(out: dict) -> str:
    """Write the detail sidecar and return the compact headline line.

    The headline is the LAST thing main() prints to stdout; everything
    else (including the full record, when the sidecar can't be
    written) goes to stderr."""
    headline, detail = split_headline(out)
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"# full diagnostics: {detail_path}", file=sys.stderr)
    except OSError as exc:
        print(f"# detail sidecar write failed ({exc}); full record follows", file=sys.stderr)
        print(json.dumps(detail), file=sys.stderr)
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > HEADLINE_MAX_BYTES:
        # unreachable unless the queries dict alone outgrows the bound
        # (≈100+ headline queries); the ladder's last resort already
        # stripped every other field. Say so loudly — a line the driver
        # truncates into an unparseable fragment is the r11 loss mode.
        print(
            f"# WARNING: headline {len(line)} bytes > {HEADLINE_MAX_BYTES} "
            "even after the last-resort trim — the queries dict itself "
            "outgrew the bound",
            file=sys.stderr,
        )
    return line


def classify_trials(attempts: list[dict], idle_cpu: float, best_io: float) -> int:
    """Re-evaluate every completed ingest trial's admission against the
    section's best-seen references (pure, driver-side, called once per
    attempt as the references tighten). Mutates each attempt's
    ``clean``/``reason`` in place and returns the clean count.

    Two layers:
    - window probes (contention the samples can SEE): cpu bracket
      within 1.5x the best-seen idle sample, pre-drain io probe at
      least half the section's best, per-micro-batch rate ratio <= 3
      (a burst that hits ONE of the 4 batches is invisible to samples
      outside the drain) — reasons ``cpu_bracket``/``io_probe``/
      ``batch_ratio``;
    - symmetric norm-outlier floor (r12, r11 verdict item 5 —
      contention the probes CANNOT see: the r11 committed run admitted
      a 466 MB/s trial into an 854 MB/s median under clean-looking
      probes): with >= 3 otherwise-clean trials, a trial whose
      bracket-normalized rate falls outside [0.6x, 1.67x] of their
      median is discarded as ``norm_outlier`` — BOTH tails, so a
      too-fast fluke is excluded as readily as a too-slow one. The
      bracket normalization is skipped when the clean brackets are
      flat (<= 1.15x max/min — inside the canary's own idle sample
      noise; applying it there would inject jitter).
    """
    import statistics

    for a in attempts:
        if a["bracket"] > 1.5 * idle_cpu:
            a["clean"], a["reason"] = False, "cpu_bracket"
        elif a["io"] < best_io / 2:
            a["clean"], a["reason"] = False, "io_probe"
        elif a["batch_ratio"] > 3.0:
            a["clean"], a["reason"] = False, "batch_ratio"
        else:
            a["clean"], a["reason"] = True, None
    base_clean = [a for a in attempts if a["clean"]]
    if len(base_clean) >= 3:
        brs = [a["bracket"] for a in base_clean]
        ref0 = statistics.median(brs)
        flat0 = max(brs) / min(brs) <= 1.15
        for a in base_clean:
            a["norm_mbps"] = a["mbps"] if flat0 else a["mbps"] * a["bracket"] / ref0
        med0 = statistics.median(a["norm_mbps"] for a in base_clean)
        for a in base_clean:
            if not (0.6 * med0 <= a["norm_mbps"] <= med0 / 0.6):
                a["clean"], a["reason"] = False, "norm_outlier"
    return sum(a["clean"] for a in attempts)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_at_gate, contaminated = wait_for_idle_machine()
    canary_s = cpu_canary()
    canary_mt_s = cpu_canary_mt(cpus)
    io_can = io_canary()
    registry = load_all()
    names = [n for n, q in sorted(registry.items()) if q.bench]
    if "--all" in sys.argv:
        names = sorted(registry)
    spark = get_spark("callysto-bench", cpus=cpus)
    # warm the JVM + parquet footers once, outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(df) -> None:
        # noop sink, NOT count(): count() lets Catalyst prune every
        # unreferenced column, optimizing away the very aggregate
        # expressions being measured; the noop sink consumes full rows.
        df.write.format("noop").mode("overwrite").save()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    warm_cap = int(os.environ.get("SPARK_GRAFT_BENCH_WARMS", "12"))

    # ingest FIRST: it is the longest, heaviest section with the
    # weakest per-measurement defenses (trials are 5-40s drains — too
    # long to retry as freely as a query's min-of-5), so it gets the
    # admission-certified window. The query sections that follow carry
    # per-query brackets + contended-window retries and defend
    # themselves (run 5: a bursty late window discarded all 10 ingest
    # attempts while the bracketed query section stayed flat).
    try:
        ingest = ingest_bench(spark)
    except Exception as exc:  # ingest_bench guards internally; belt+braces
        print(f"# ingest bench failed: {exc}", file=sys.stderr)
        ingest = None

    def warm_to_plateau(build) -> tuple[int, float]:
        """Run the query until its wall time reaches the JIT plateau
        (r10 finding: 20 same-session runs of emb_ivf_topk fall
        2.39s->0.79s from JVM JIT tiering — and the decline is GRADUAL,
        ~5-8% per run through run ~10, measured r11, so a single warm
        run leaves the timed min 1.2-1.4x above steady state and the
        same-code per-query spread at 1.22-1.32x). Rule: keep warming
        while new minimums keep arriving; stop when 3 consecutive runs
        fail to improve the running best by >3%, cap ``warm_cap``.
        Returns ``(warm_runs_consumed, best_warm_wall_s)`` — the best
        warm wall sizes the timed section (``q_runs``) below.
        """
        best = float("inf")
        stale = 0
        for i in range(warm_cap):
            t0 = time.perf_counter()
            run(build())
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            if dt < best * 0.97:
                best = dt
                stale = 0
            else:
                stale += 1
                if stale >= 3:
                    return i + 1, best
        return warm_cap, best

    def settle(pause: float = 0.75) -> None:
        # Force the deferred JVM cleanup (ContextCleaner shuffle-file
        # deletes, dropped cache blocks, old-gen garbage from the
        # PREVIOUS query) to land OUTSIDE the next timed region. Without
        # this, a heavy query's cleanup fires lazily on the next driver
        # GC and stalls the following query's tasks — measured 1.2s →
        # 14.8s on the query after the shingle join. Single-JVM-local
        # artifact: on a real cluster cleanup runs on executors
        # concurrently with unrelated stages.
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(pause)

    def measure_session(label: str):
        """One full measurement pass in the CURRENT SparkSession:
        global warm pass, then per-query plateau warm + bracketed
        timed min-of-q_runs with contended-window retry.

        Run once per JVM session (see the two-session min below): the
        JIT lottery — which inlining/code-layout decisions C2 lands on
        — persists for a session's lifetime, so a query's steady-state
        wall is a SESSION property, not a code property (r11 same-code
        pair: q3 read 0.328s for a whole session, min-of-9 after 12
        warm runs, and 0.453s in the next one, flat brackets both).
        """
        timings: dict[str, float | None] = {}
        warmups: dict[str, int] = {}
        errors: dict[str, str] = {}
        # per-query canary brackets (r11): the run-wide start/end
        # canaries certify the WINDOW, but same-code runs showed the
        # host drifting WITHIN the query section — a run-wide bracketed
        # mean cannot attribute that drift to the queries it actually
        # hit. Sample the mt canary immediately before and after each
        # query's timed min-of-n (AFTER its warm-up, so the bracket
        # encloses exactly the timed region); bench_compare normalizes
        # by the bracket-ratio median, or a query's own ratio when it
        # deviates >1.3x (locally contended).
        query_canaries: dict[str, list[float]] = {}
        # global warm pass: one execution of EVERY bench query before
        # any timed section. The first query's per-query warm-up alone
        # cannot protect it — fresh-session runs read the
        # alphabetically first query 1.3-1.8x over its flat-window wall
        # with its opening mt-bracket sample at 0.400s vs the
        # 0.085-0.12s idle reading: the session's own C2 JIT
        # compilation storm (Spark internals, codegen classloading,
        # shuffle machinery) competes on all cores through the first
        # minutes. One pass over the full set moves that session-global
        # work before the first bracket opens.
        for name in names:
            try:
                run(registry[name].fn(spark, sf_dir))
            except Exception:
                pass  # the per-query section reports the failure properly
            spark.catalog.clearCache()
        # the session's best-seen mt sample = the idle reference the
        # contended-window retry compares brackets against; lowered
        # whenever a faster sample appears
        idle_mt = [cpu_canary_mt(cpus)]
        for name in names:
            # steady-state measurement: first executions pay
            # whole-stage codegen compilation AND the JVM's tiered JIT
            # ramp (~10 runs of gradual 5-8%/run decline, r11-measured
            # — irrelevant at 100 TB where it amortizes to noise); warm
            # to the plateau (warm_to_plateau), then time q_runs and
            # report the MIN (the steady-state convention). Per-query
            # isolation: one broken query must cost ONLY its own entry,
            # never the whole bench line (r3 lost all signal to one
            # plan-time AnalysisException).
            try:
                if name in os.environ.get("SPARK_GRAFT_BENCH_FAIL", "").split(","):
                    raise RuntimeError("injected failure (SPARK_GRAFT_BENCH_FAIL)")
                warmups[name], warm_best = warm_to_plateau(
                    lambda: registry[name].fn(spark, sf_dir)
                )
                # sub-second queries need more than n_runs samples for a
                # stable min (r11 same-code pair: a 0.27s query read 0.36s
                # across a whole flat-window min-of-5 — scheduler/GC noise
                # at that wall length exceeds 25%): size the timed section
                # to ~3s of total work, floor n_runs, cap 12
                q_runs = max(n_runs, min(12, int(3.0 / max(warm_best, 0.25))))
                # contended-window retry: a bracket mean beyond 1.5x the
                # run's best-seen mt sample means an external burst hit the
                # timed section (run 3: one query's opening sample read
                # 0.400s vs 0.085s idle and its wall 1.8x its flat-window
                # value) — re-time in a fresh window, keep the attempt with
                # the FLATTEST bracket (per-query normalization corrects a
                # slow-but-flat host; nothing corrects a burst mid-min-of-n)
                kept = None  # (bracket_mean, best_s, b0, b1)
                for attempt in range(3):
                    settle()
                    b0 = cpu_canary_mt(cpus)
                    best = float("inf")
                    for _ in range(q_runs):
                        t0 = time.perf_counter()
                        run(registry[name].fn(spark, sf_dir))
                        best = min(best, time.perf_counter() - t0)
                        spark.catalog.clearCache()
                    b1 = cpu_canary_mt(cpus)
                    idle_mt[0] = min(idle_mt[0], b0, b1)
                    bmean = (b0 + b1) / 2
                    if kept is None or bmean < kept[0]:
                        kept = (bmean, best, b0, b1)
                    if bmean <= 1.5 * idle_mt[0]:
                        break
                    print(
                        f"# {name}: bracket {b0:.3f}/{b1:.3f}s vs idle "
                        f"{idle_mt[0]:.3f}s — contended window, re-timing "
                        f"({attempt + 1}/3)",
                        file=sys.stderr,
                    )
                _, best, b0, b1 = kept
                query_canaries[name] = [b0, b1]
                timings[name] = round(best, 3)
                print(
                    f"# {name} [{label}]: {timings[name]:.3f}s (min of {q_runs} "
                    f"after {warmups[name]} warm runs; bracket {b0:.3f}/{b1:.3f}s)",
                    file=sys.stderr,
                )
            except Exception as exc:
                timings[name] = None
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# {name} [{label}]: FAILED {errors[name]}", file=sys.stderr)
                spark.catalog.clearCache()
            settle()
        return timings, warmups, query_canaries, errors, idle_mt[0]

    # two-session minimum (r11): the C2 JIT lottery — which inlining/
    # code-layout decisions the compiler lands on — persists for a JVM
    # session's lifetime, so plateau-warmed min-of-n walls differ up to
    # 1.46x BETWEEN same-code sessions with flat brackets throughout
    # (q3: 0.328s for all of one session, 0.453s the next; sessionize
    # 0.237s vs 0.345s). No canary sees it (the canary is not subject
    # to the query code's JIT) — the only treatment is re-rolling the
    # lottery: measure in two separate SparkSessions and take each
    # query's min. Simulated on the four r11 single-session runs, the
    # same-code per-query envelope shrinks from 0.69-1.46x to
    # 0.78-1.12x.
    t1, w1, qc1, e1, idle1 = measure_session("s1")
    spark.stop()
    spark = get_spark("callysto-bench-s2", cpus=cpus)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    t2, w2, qc2, e2, idle2 = measure_session("s2")

    timings: dict[str, float | None] = {}
    warmups: dict[str, int] = {}
    query_canaries: dict[str, list[float]] = {}
    query_session: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in names:
        a, b = t1.get(name), t2.get(name)
        if a is None and b is None:
            timings[name] = None
            errors[name] = e2.get(name) or e1.get(name) or "failed in both sessions"
            continue
        # prefer the session whose bracket is FLAT (<= 1.3x its session
        # idle), then the lower wall: carrying a contended bracket with
        # a burst-dodging min-of-n wall made the gate's local-contention
        # override normalize a clean 0.98x raw reading to 0.70x/1.43x
        # (run 9/10 pair, q1/q3) — the wall did NOT move with the burst
        # because min-of-n exists to dodge bursts, so when either
        # session measured cleanly, commit THAT measurement
        cands = []
        for wall, qc, w, sess, idle in (
            (a, qc1, w1, 1, idle1),
            (b, qc2, w2, 2, idle2),
        ):
            if wall is None:
                continue
            br = qc.get(name) or []
            contended = (
                len(br) == 2 and (br[0] + br[1]) / 2 > 1.3 * idle
            )
            cands.append((contended, wall, sess, br, w.get(name, 0)))
        contended_pick, wall, sess, br, warm = min(cands)
        timings[name] = wall
        warmups[name] = warm
        query_canaries[name] = br
        query_session[name] = sess
        print(
            f"# {name}: {timings[name]:.3f}s = "
            f"{'flat' if not contended_pick else 'CONTENDED-only'} pick "
            f"s{sess} of (s1 {a if a is not None else 'fail'}, "
            f"s2 {b if b is not None else 'fail'})",
            file=sys.stderr,
        )
    try:
        engine_bench(spark, sf_dir)
    except Exception as exc:  # stderr-only diagnostics must never fail the line
        print(f"# engine bench failed: {exc}", file=sys.stderr)
    # second canary sample AFTER the timed sections: the start sample
    # certifies admission-time speed, but the host can drift mid-run —
    # a large start/end ratio explains intra-run noise (e.g. ingest
    # trial spread) that neither loadavg nor the start canary can
    canary_end_s = cpu_canary()
    canary_mt_end_s = cpu_canary_mt(cpus)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(v for v in timings.values() if v is not None), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # measurement honesty: 1-minute load average at the END of the
        # run (the box is a shared VM; the r5 ingest spread was traced
        # to concurrent load). Own JVM contributes too — values far
        # above the core count mean the numbers ran under contention.
        "loadavg_1m": round(os.getloadavg()[0], 1),
        # the admission-gate sample (taken BEFORE the SparkSession, so
        # external load only) — the idle-certification figure
        "loadavg_at_gate": load_at_gate,
        # fixed single-thread reference workload (see cpu_canary), once
        # before and once after the timed sections: divide cross-round
        # query deltas by the canary ratio before calling them
        # regressions, and read a large start/end gap as mid-run host
        # drift — the shared host's clock swings ~2x within sessions
        "cpu_canary_s": canary_s,
        "cpu_canary_end_s": canary_end_s,
        # the same checksum workload fanned across all cores (GIL-free
        # sha256): the host factor 32-thread query walls actually track.
        # When 1t and mt corroborate (on bracketed start/end means),
        # bench_compare normalizes by THIS ratio and gates under the
        # noise-band rule; diverging/legacy pairs fall back to
        # nearest-1 normalization with raw-AND-norm gating.
        "cpu_canary_mt_s": canary_mt_s,
        "cpu_canary_mt_end_s": canary_mt_end_s,
        # the mt canary's wall time scales with its thread count —
        # bench_compare refuses to compare mt ratios across different
        # counts (a 48-thread run on 32 cores reads ~1.5x slower from
        # configuration alone, not host speed)
        "cpu_canary_mt_threads": cpus,
        # fixed 256 MiB write+fsync / warm-read reference (see io_canary):
        # read cross-round INGEST deltas against io_canary_write_mbps the
        # way query deltas are read against the cpu canary
        "io_canary_write_mbps": io_can["write_mbps"],
        "io_canary_read_mbps": io_can["read_mbps"],
        # how many warm runs each query needed to hit its JIT plateau
        # (warm_to_plateau): a query pinned at the cap means the timed
        # min may still sit above steady state — read its cross-round
        # delta with that in mind
        "warm_runs": warmups,
        # which JVM session won each query's two-session min (1 or 2),
        # plus each session's surviving-query totals — a session whose
        # JIT lottery came up slow shows here, not in the headline
        "query_session_won": query_session,
        "session_totals": [
            round(sum(v for v in t.values() if v is not None), 3)
            for t in (t1, t2)
        ],
        # [before, after] mt-canary samples tight around each query's
        # timed min-of-n (taken AFTER the warm-up, so the bracket
        # encloses exactly the timed region): bench_compare normalizes
        # each query by its OWN bracket ratio when both artifacts carry
        # one — run-wide brackets cannot attribute mid-run drift to the
        # specific queries it hit (both r11 same-code runs drifted
        # mid-query-section)
        "query_canary_mt_s": query_canaries,
    }
    if contaminated:
        out["load_contaminated"] = True
    if errors:
        # the total above sums only SURVIVING queries — flag it so a
        # partial round is never compared against a clean round's total
        out["errors"] = errors
        out["partial"] = True
        out["n_failed"] = len(errors)
    if ingest is not None:
        # MEDIAN OF CLEAN TRIALS is the headline (round-5 verdict: a
        # best whose median is half of it is not a trustworthy number
        # on a shared VM); best and the per-trial list ride along.
        # r11: trials whose window fails the cleanliness check (cpu
        # bracket > 1.5x idle or io probe < half best — see
        # ingest_bench) are discarded and re-run; the discarded
        # readings ride along in ``ingest_discarded_trials`` (in the
        # detail sidecar) so the filtering is auditable. The noisy
        # flag reads the NORMALIZED spread over clean trials, and also
        # fires when fewer than 2 clean trials existed
        # (window_exhausted); a run that got 2..trials-1 clean trials
        # is flagged short_sample instead.
        out["ingest_mbps"] = ingest["median"]
        out["ingest_mbps_best"] = ingest["best"]
        out["ingest_mbps_trials"] = ingest["trials"]
        out["ingest_mbps_norm"] = ingest["median_norm"]
        out["ingest_mbps_trials_norm"] = ingest["trials_norm"]
        out["ingest_trial_canaries_s"] = ingest["trial_canaries_s"]
        out["ingest_trial_io_probes_mbps"] = ingest["trial_io_probes_mbps"]
        out["ingest_trial_batch_ratios"] = ingest["trial_batch_ratios"]
        out["ingest_spread_pct"] = ingest["spread_pct"]
        out["ingest_raw_spread_pct"] = ingest["raw_spread_pct"]
        out["ingest_discarded_trials"] = ingest["discarded_trials"]
        if ingest["spread_pct"] > 25 or ingest["window_exhausted"]:
            out["ingest_noisy"] = True
        if ingest["window_exhausted"]:
            out["ingest_window_exhausted"] = True
        if ingest.get("short_sample"):
            # the retry budget ran out with fewer clean trials than
            # requested (but >= 2): the median stands on a short sample
            out["ingest_short_sample"] = True
    stamp_watch_ledger(out)
    print(emit(out))
    spark.stop()
    if contaminated:
        # the JSON line (with its load_contaminated flag) is already on
        # stdout for the driver to record; the nonzero exit makes the
        # contamination impossible to miss in the round artifact's rc
        sys.exit(2)


def stamp_watch_ledger(out: dict) -> None:
    """Record which headline queries sit at/over the gate threshold
    against the committed anchor into ``out["watch_ledger"]`` (r13
    verdict item 6: cross-round slow-creep detection).

    bench_compare's WATCH band deliberately does not gate a single
    round (same-code per-query draws spread to 1.32x on this host),
    but a query slower-than-anchor in the band in two CONSECUTIVE
    committed artifacts is creep, not lottery — bench_compare.compare
    escalates any query present both in the OLD artifact's ledger and
    in the current pair's band. This function stamps each artifact's
    own band membership (band + gated, both mean "slower than the
    committed reference beyond threshold") so that chain is mechanical.

    Skipped (with a stderr note, never an exception — the headline
    line must survive) when: no anchor matches this run's sf, the
    anchor is unreadable, or the run self-flags load_contaminated
    (contaminated band readings would seed false creep flags)."""
    if out.get("load_contaminated"):
        print("# watch ledger: skipped (load_contaminated run)", file=sys.stderr)
        return
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        anchor = None
        for cand in ("BENCH_BASELINE.json", "BENCH_SF1_BASELINE.json"):
            path = os.path.join(here, cand)
            if os.path.exists(path):
                with open(path) as f:
                    art = json.load(f)
                if art.get("sf") == out.get("sf"):
                    anchor = art
                    break
        if anchor is None:
            print(
                f"# watch ledger: no committed anchor at sf={out.get('sf')}",
                file=sys.stderr,
            )
            return
        sys.path.insert(0, os.path.join(here, "tools"))
        import bench_compare

        _, worse, _, watch = bench_compare.compare(anchor, out, threshold=1.25)
        out["watch_ledger"] = sorted(set(watch) | set(worse))
        if out["watch_ledger"]:
            print(
                "# watch ledger (vs committed anchor): "
                + ", ".join(out["watch_ledger"]),
                file=sys.stderr,
            )
    except Exception as exc:
        print(f"# watch ledger unavailable: {exc}", file=sys.stderr)


def engine_bench(spark, sf_dir: str) -> None:
    """Per-engine timings for the two dual-engine ANN kernels, to
    STDERR only (the headline set times the default engines; these
    lines make an engine-specific regression visible round-over-round
    without changing the comparable headline total)."""
    from callysto_spark.operators.similarity import cosine_topk, ivf_assign
    from callysto_spark.queries.llm_ops import _centroids
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = _centroids(spark, sf_dir)
    jobs = {
        "emb_cosine_topk": lambda eng: cosine_topk(
            e, "vec_id", "embedding", list(range(5)), k=10, round_ndigits=6, engine=eng
        ),
        "emb_ivf_assign": lambda eng: ivf_assign(e, "vec_id", "embedding", cents, engine=eng),
    }
    for name, build in jobs.items():
        for eng in ("expr", "pandas"):
            build(eng).write.format("noop").mode("overwrite").save()  # warm
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                build(eng).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            print(f"# engine {name}[{eng}]: {best:.3f}s (min of 3)", file=sys.stderr)


def ingest_bench(spark) -> dict | None:
    """Streaming-agent ingest throughput, methodology-matched to the
    reference's only published number (BASELINE.md: 278.47 MB/s,
    double-agent, 74 KB repetitive payloads, timed IN-AGENT from first
    to last message — consumer startup excluded).

    Workload: SPARK_GRAFT_INGEST_MSGS (default 50000) messages of ~72 KB
    repeated-block text (the reference's payload was one 74-char URL
    ×1000 — equally repetitive), staged as parquet ONCE, then drained
    through an App agent on the JVM file-stream path (fresh checkpoint
    per trial); MB/s = payload bytes / (last batch end − first batch
    start). SPARK_GRAFT_INGEST_TRIALS (default 5) drains run; the
    MEDIAN is the headline (round-5 verdict: on a shared VM whose IO/CPU
    throughput swings several-fold between runs, a best-of-n headline
    can sit at 2x its median — the median is the number a user would
    actually see), with best + the per-trial list as sidecars and a 25%
    spread ceiling that marks the JSON noisy when exceeded. Set the
    msgs env var to 0 to skip.

    r11 measurement discipline (r10 finding 3: committed median halved
    609->425 MB/s with an 85% trial spread while the io canary read
    0.99x — i.e. WINDOW CONTENTION DURING TRIALS, which a run-level
    canary can't see):

    - one untimed warm DRAIN first (the batch warm above heats parquet
      decode, but the first streaming drain still pays
      FileStreamSource/offset-log JIT — measured as the slowest trial
      in most runs), discarded;
    - the multi-thread cpu canary is sampled BETWEEN trials (bracket),
      a 64 MiB write+fsync io probe runs BEFORE each drain (a
      post-drain probe measures the drain's own checkpoint writeback —
      run 4 discarded its two fastest drains that way), and each
      drain records its per-micro-batch MB/s (a burst that hits one of
      the 4 batches is invisible to samples outside the drain);
    - trials whose window fails the cleanliness check (cpu bracket
      > 1.5x the section's best-seen sample, pre-drain io probe < half
      the section's best, or fastest/slowest batch rate > 3x) are
      DISCARDED and re-run, up to SPARK_GRAFT_INGEST_RETRIES (default
      5) extra attempts — normalization cannot rescue a burst-hit
      trial (run 3: 47.3 MB/s under a 0.776s-vs-0.085s cpu bracket
      normalized to 111.5, still 10x off the clean trials), so the
      only honest treatments are exclusion-with-audit-trail
      (``ingest_discarded_trials``, each entry carrying its discard
      reason) or, when the budget runs out, flags: ``short_sample``
      whenever the loop exits with fewer clean trials than requested
      (the median stands on a short window), escalating to
      ``window_exhausted`` below 2 clean trials (no trustworthy
      median exists — ALL attempts are reported, flagged noisy);
    - r12 (r11 verdict item 5): the probes only catch contention they
      can SEE — the r11 committed run admitted a 466 MB/s trial into
      an 854 MB/s median under clean probes. With >= 3 otherwise-clean
      trials, a trial whose bracket-normalized rate falls outside
      [0.6x, 1.67x] of their median is discarded as a ``norm_outlier``
      (both tails — symmetric) and the window refills;
    - the headline ``ingest_mbps`` is the RAW median over CLEAN trials
      (comparable to the reference's 278.47 MB/s and to prior rounds);
      ``ingest_mbps_norm`` + per-trial canaries ride along, and the
      noisy flag reads the NORMALIZED spread over clean trials —
      residual spread after excluding contended windows and removing
      in-band host drift is genuine measurement noise.
    """
    import gc
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from callysto_spark.app import App
    from callysto_spark.sources import SourceSpec
    from perfbench.payload import batch_bytes

    # 100k ≈ 7 GB: long enough (~10s+) that startup jitter stops moving
    # the MB/s figure, closer to the reference's 200k-message
    # methodology — and, staged as 64 files drained 16 per trigger,
    # FOUR full-width micro-batches per trial instead of the previous
    # two (r11: with 2 batches, one slow batch moved the whole trial
    # ~2x, the dominant term in the 54-61% trial spreads the per-trial
    # canary could not explain)
    n = int(os.environ.get("SPARK_GRAFT_INGEST_MSGS", "100000"))
    trials = int(os.environ.get("SPARK_GRAFT_INGEST_TRIALS", "5"))
    if n <= 0:
        return None
    base = tempfile.mkdtemp(prefix="callysto_ingest_")
    try:
        chunk = F.sha2(F.concat(F.col("id").cast("string"), F.lit("salt")), 256)
        payload = F.repeat(chunk, 74000 // 64)
        (
            spark.range(n)
            .repartition(64)
            .select(F.col("id").alias("key"), payload.alias("value"))
            .write.mode("overwrite")
            .parquet(f"{base}/gen")
        )
        # stage flat part files (FileStreamSource wants plain files, not
        # a writer output dir with metadata)
        os.makedirs(f"{base}/stage")
        for i, f_ in enumerate(sorted(os.listdir(f"{base}/gen"))):
            if f_.endswith(".parquet"):
                shutil.copy(f"{base}/gen/{f_}", f"{base}/stage/{i:04d}.parquet")

        def settle() -> None:
            # generation built ~3.5 GB of JVM garbage; collect it now so
            # the cleanup doesn't fire inside the timed drain
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.75)

        # Warm the FULL corpus once (batch read, untimed): heats the
        # C2-JIT parquet-decode + agg paths AND the page cache. A
        # one-file warm leaves the first trial running interpreted
        # code — measured 220 vs 580+ MB/s on the first timed drain.
        spark.read.parquet(f"{base}/stage").agg(F.sum(F.length("value"))).collect()
        n_threads = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        # contended-trial discipline (r11): normalization cannot rescue
        # a trial that a neighbor's burst hit — run 3 measured a trial
        # at 47.3 MB/s bracketed by mt samples of 0.776s vs the 0.085s
        # idle reading, and the canary-normalized figure (111.5) was
        # still 10x off the clean trials. So trials whose window fails
        # a cleanliness check are DISCARDED and re-run (up to
        # SPARK_GRAFT_INGEST_RETRIES extra attempts): clean means the
        # trial's cpu bracket is within 1.5x the section's best-seen
        # sample AND its post-trial 64 MiB write+fsync probe is within
        # 2x of the section's best — CPU and IO contention checked
        # separately because run 3's trial 1 ran 853 vs 1265 MB/s under
        # a flat CPU bracket (IO-only contention).
        max_attempts = trials + int(os.environ.get("SPARK_GRAFT_INGEST_RETRIES", "5"))

        def io_probe() -> float:
            # 64 MiB write+fsync in the drain's own directory — the
            # IO-side twin of the cpu bracket samples
            block = b"\x5a" * (4 << 20)
            p = f"{base}/_ioprobe.bin"
            t0 = time.perf_counter()
            with open(p, "wb") as f:
                for _ in range(16):
                    f.write(block)
                f.flush()
                os.fsync(f.fileno())
            os.remove(p)
            return 64 / (time.perf_counter() - t0)

        attempts: list[dict] = []  # every completed timed drain

        def drain(label: str, ckpt: str) -> dict:
            stats: dict = {"bytes": 0, "t0": None, "t1": None, "batch_mbps": []}
            src = SourceSpec.parquet_stream(f"{base}/stage", schema="key long, value string")
            # 16 files × 2 row-group splits = 32 tasks/batch — exactly
            # the core count (8 files left half the machine idle); with
            # 64 staged files that is 4 full-width batches per trial, so
            # a single slow batch moves the trial 25%, not 2x
            src.options["maxFilesPerTrigger"] = 16
            app = App(label, spark=spark, checkpoint_root=ckpt)

            @app.agent("counter", src)
            def counter(b, ctx):
                t_in = time.perf_counter()
                if stats["t0"] is None:
                    stats["t0"] = t_in
                # noop-sink drain, bytes from an Observation on the same
                # job; the payload is ASCII hex, so its octet count equals
                # the character count the r1-r16 anchors recorded
                nbytes = batch_bytes(b)
                stats["bytes"] += nbytes
                stats["t1"] = time.perf_counter()
                # per-batch rate: a burst that hits ONE of the 4 batches
                # is invisible to the bracket samples outside the drain
                stats["batch_mbps"].append(
                    nbytes / (1024 * 1024) / max(stats["t1"] - t_in, 1e-6)
                )

            app.run(await_termination=True, timeout=600)
            app.stop()
            return stats

        settle()
        # warm drain: heats the streaming-path JIT (source discovery,
        # offset log, foreachBatch crossing); result discarded. Its
        # post-drain samples open attempt 0's bracket.
        drain("bench_ingest_warm", f"{base}/ckpt_warm")
        print("# ingest warm drain (discarded)", file=sys.stderr)
        prev_cpu = cpu_canary_mt(n_threads)
        cpu_samples = [prev_cpu]
        io_samples: list[float] = []
        for attempt in range(max_attempts):
            settle()
            # io probe BEFORE the drain (post-settle): a probe taken
            # right AFTER a drain measures the drain's own checkpoint/
            # shuffle writeback, not the neighborhood — run 4 discarded
            # its two FASTEST drains (1291/1311 MB/s) on post-drain
            # probes of 124-145 MB/s while keeping a 424 MB/s one
            io_now = io_probe()
            io_samples.append(io_now)
            stats = drain(f"bench_ingest_t{attempt}", f"{base}/ckpt{attempt}")
            # settle BEFORE the post sample: a drain pushes ~7 GB of
            # strings through the JVM, and the GC/cleaner churn that
            # follows reads as 0.13-0.17s mt samples vs the 0.085s true
            # idle (run 5 discarded all 10 attempts on self-polluted
            # brackets). In-drain bursts are the batch ratio's job.
            settle()
            post_cpu = cpu_canary_mt(n_threads)
            cpu_samples.append(post_cpu)
            if stats["t0"] is None or stats["t1"] is None or stats["t1"] <= stats["t0"]:
                # timeout before the first batch finished — this attempt
                # produced no reading; the fresh samples still advance
                # the bracket chain
                prev_cpu = post_cpu
                print(f"# ingest attempt {attempt}: no completed batch (timeout?), skipped", file=sys.stderr)
                continue
            dt = stats["t1"] - stats["t0"]
            mbps = stats["bytes"] / (1024 * 1024) / dt
            rates = stats["batch_mbps"]
            # a burst that hits ONE micro-batch mid-drain is invisible
            # to the samples outside it; batch-rate consistency sees it
            batch_ratio = max(rates) / max(min(rates), 1e-6) if len(rates) > 1 else 1.0
            attempts.append(
                {
                    "mbps": mbps,
                    "bracket": (prev_cpu + post_cpu) / 2,
                    "io": io_now,
                    "batch_ratio": batch_ratio,
                }
            )
            prev_cpu = post_cpu
            idle_cpu, best_io = min(cpu_samples), max(io_samples)
            # refs tighten as samples accumulate, so every completed
            # trial is re-classified each attempt (classify_trials:
            # window probes + the r12 symmetric norm-outlier floor);
            # discarded trials refill via the retry loop and carry
            # their reason into the audit list
            n_clean = classify_trials(attempts, idle_cpu, best_io)
            print(
                f"# ingest attempt {attempt}: {stats['bytes']/1048576:.0f} MB in {dt:.2f}s "
                f"= {mbps:.1f} MB/s (bracket {attempts[-1]['bracket']:.3f}s vs idle "
                f"{idle_cpu:.3f}s, pre-drain io probe {io_now:.0f} vs best {best_io:.0f} MB/s, "
                f"batch ratio {batch_ratio:.1f}"
                f"{'' if attempts[-1]['clean'] else ' — DISCARDED: ' + str(attempts[-1]['reason'])})",
                file=sys.stderr,
            )
            if n_clean >= trials:
                break
        if not attempts:
            print("# ingest bench: zero completed trials", file=sys.stderr)
            return None
        clean = [a for a in attempts if a["clean"]]
        # short_sample: the retry budget ran out before `trials` clean
        # windows accumulated — the headline median stands on fewer
        # trials than requested (r11 advice: this previously went
        # unflagged whenever 2-4 clean trials existed)
        short_sample = len(clean) < trials
        window_exhausted = len(clean) < 2
        if window_exhausted:
            # never got two clean windows in the attempt budget: report
            # everything rather than nothing, flagged noisy below
            clean = attempts
        results = [a["mbps"] for a in clean]
        brackets = [a["bracket"] for a in clean]
        ref = statistics.median(brackets)
        # normalization exists to remove LARGE host drift (r10: trials
        # 173-1160 MB/s under window contention); when the brackets are
        # flat (<15% max/min — inside the canary's own min-of-3 sample
        # noise at idle), applying it would INJECT canary jitter into
        # flat trials, so skip it
        if max(brackets) / min(brackets) <= 1.15:
            norm = list(results)
        else:
            norm = [m * b / ref for m, b in zip(results, brackets)]
        spread = (max(norm) - min(norm)) / max(norm) * 100
        raw_spread = (max(results) - min(results)) / max(results) * 100
        print(
            f"# ingest best={max(results):.1f} median={statistics.median(results):.1f} "
            f"min={min(results):.1f} MB/s raw_spread={raw_spread:.0f}% "
            f"norm_median={statistics.median(norm):.1f} norm_spread={spread:.0f}% "
            f"over {len(results)} trials",
            file=sys.stderr,
        )
        discarded = [a for a in attempts if not a["clean"]] if not window_exhausted else []
        for a in discarded:
            # one audit line per exclusion, greppable: the committed
            # median must never silently drop a reading
            print(
                f"# ingest discarded trial: {a['mbps']:.1f} MB/s "
                f"(reason: {a['reason']}, bracket {a['bracket']:.3f}s, "
                f"io probe {a['io']:.0f} MB/s, batch ratio {a['batch_ratio']:.1f})",
                file=sys.stderr,
            )
        return {
            "best": round(max(results), 1),
            "median": round(statistics.median(results), 1),
            "trials": [round(v, 1) for v in results],
            "median_norm": round(statistics.median(norm), 1),
            "trials_norm": [round(v, 1) for v in norm],
            "trial_canaries_s": [round(a["bracket"], 3) for a in clean],
            "trial_io_probes_mbps": [round(a["io"], 0) for a in clean],
            "trial_batch_ratios": [round(a["batch_ratio"], 1) for a in clean],
            "spread_pct": round(spread, 1),
            "raw_spread_pct": round(raw_spread, 1),
            # honesty sidecar: contended attempts that were measured
            # but excluded from the headline (their mbps + brackets),
            # and whether the clean-window budget ran out
            "discarded_trials": [
                {
                    "mbps": round(a["mbps"], 1),
                    "bracket_s": round(a["bracket"], 3),
                    "io_probe_mbps": round(a["io"], 0),
                    "batch_ratio": round(a["batch_ratio"], 1),
                    "reason": a["reason"],
                }
                for a in discarded
            ],
            "window_exhausted": window_exhausted,
            "short_sample": short_sample,
        }
    except Exception as exc:  # never fail the bench line on the extra metric
        print(f"# ingest bench failed: {exc}", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
