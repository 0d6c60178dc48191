"""``table_agent``: an ``App.table_agent`` over a 4-partition memtopic
topic (the engine's Kafka twin). Events sampled from the sf0.1 test
corpus's ``events`` table (shipped in ``perfbench/data``) are keyed by
user; the table keeps a running count, sum and newest due-time per
``(user_id, event_type)`` in RocksDB state and emits through
``idempotent(...)`` to parquet.

Two phases share one topic, checkpoint and sink:

1. closed loop: publish a fixed backlog, drain it with an
   ``availableNow`` trigger, stop; repeated, each drain restarting from
   the checkpoint;
2. open loop: restart on the same checkpoint with a ``processingTime``
   trigger while one generator thread publishes at a fixed rate. Every
   event carries its scheduled send time, and latency runs from that time
   to the sink's commit of the batch holding the event.
"""

from __future__ import annotations

import json
import os
from datetime import datetime
import threading
import time

import numpy as np
import pandas as pd

from perfbench.counters import STAGE_FIELDS, ProgressLog, stream_layers
from perfbench.harness import MB, median, percentile, pyworker_cpu_ms

PARTITIONS = 4
EVENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1", "events.parquet")
BACKLOG = 10_000  # events per closed-loop drain
WARM_BACKLOG = 5_000
RATE = 340  # open-loop events/s: about a quarter of the drain rate
# Above the ~1.4 s a small stateful batch takes here, so the query idles
# between triggers instead of running batches back to back.
TRIGGER = "2 seconds"
GEN_TICK_S = 0.01
DRAINS = 3  # a traced run makes them untraced, traced, traced
PRIME = 100  # events the restarted open-loop query commits before the schedule starts
LATE_LIMIT_MS = 250.0  # a generator later than this at p99 invalidates the window
OUT_SCHEMA = "u long, t string, cnt long, total long, last_due double, newest_due double"
EVENT_SCHEMA = "e long, u long, t string, v long, d double"


def update_stats(key, pdf: pd.DataFrame, state):
    """Table-agent closure: fold one key's events of a micro-batch into
    its state and emit the key's running totals."""
    cnt, total, last = state.get() or (0, 0, 0.0)
    newest = float(pdf["d"].max())
    cnt, total, last = cnt + len(pdf), total + int(pdf["v"].sum()), max(last, newest)
    state.set(cnt, total, last)
    return pd.DataFrame({"u": [key[0]], "t": [key[1]], "cnt": [cnt], "total": [total],
                         "last_due": [last], "newest_due": [newest]})


class EventPool:
    """The sf0.1 events in a seeded order (reshuffled each time the table
    runs out), handed out as memtopic (key, value) messages. Keeps every
    event it hands out for the final check, and counts the bytes of the
    messages it builds."""

    def __init__(self, seed: int, n: int) -> None:
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        ev = pq.read_table(EVENTS, columns=["user_id", "event_type", "value"]).to_pandas()
        rows = len(ev)
        order = np.concatenate([rng.permutation(rows) for _ in range(-(-n // rows))])[:n]
        self.u = ev["user_id"].to_numpy()[order]
        self.t = ev["event_type"].to_numpy()[order]
        self.v = np.round(ev["value"].to_numpy()[order] * 100).astype(np.int64)
        self.next = 0
        self.sent: list[tuple[int, int]] = []  # (first, end) index ranges handed out
        self.msg_bytes = 0  # UTF-8 bytes of every key and value handed out

    def take(self, n: int, due: list[float]) -> list[tuple[str, str]]:
        i = self.next
        if i + n > len(self.u):
            raise RuntimeError("event pool exhausted")
        self.next += n
        self.sent.append((i, i + n))
        msgs = [
            (str(self.u[j]), json.dumps({"e": j, "u": int(self.u[j]), "t": self.t[j],
                                         "v": int(self.v[j]), "d": due[j - i]}))
            for j in range(i, i + n)
        ]
        self.msg_bytes += sum(len(k.encode()) + len(v.encode()) for k, v in msgs)
        return msgs

    def expected(self) -> pd.DataFrame:
        idx = np.concatenate([np.arange(a, b) for a, b in self.sent])
        df = pd.DataFrame({"u": self.u[idx], "t": self.t[idx], "v": self.v[idx]})
        return df.groupby(["u", "t"]).agg(cnt=("v", "size"), total=("v", "sum"))


class Generator(threading.Thread):
    """Open-loop publisher: event i is due at ``t0 + i / RATE`` (wall
    clock) whatever the engine does; lateness is recorded, not absorbed."""

    def __init__(self, pool: EventPool, broker: str, topic: str, seconds: float) -> None:
        super().__init__(daemon=True)
        self.pool, self.broker, self.topic = pool, broker, topic
        self.n = int(RATE * seconds)
        self.late_ms: list[float] = []
        self.produce_ms = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        from callysto_spark.sources.memtopic import produce

        try:
            t0 = time.time()
            sent = 0
            while sent < self.n:
                due_n = min(self.n, int((time.time() - t0) * RATE) + 1)
                if due_n <= sent:
                    time.sleep(GEN_TICK_S)
                    continue
                due = [t0 + i / RATE for i in range(sent, due_n)]
                msgs = self.pool.take(due_n - sent, due)
                p0 = time.perf_counter()
                produce(self.broker, self.topic, msgs, n_partitions=PARTITIONS)
                self.produce_ms += (time.perf_counter() - p0) * 1000.0
                done = time.time()
                self.late_ms.extend((done - d) * 1000.0 for d in due)
                sent = due_n
        except BaseException as exc:  # reported by the caller after join()
            self.error = exc


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from callysto_spark.app import App
    from callysto_spark.sinks.exactly_once import idempotent
    from callysto_spark.sources import SourceSpec
    from callysto_spark.sources.memtopic import produce

    spark, tr, counters = ctx.spark, ctx.trace, ctx.counters
    base = os.path.join(ctx.work_dir, "table")
    broker, topic = os.path.join(base, "broker"), "events"
    sink_dir, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    # enough events for every drain and open-loop window of the run
    pool = EventPool(ctx.seed, WARM_BACKLOG + BACKLOG * DRAINS + (PRIME + int(RATE * ctx.seconds)) * 2 + 1000)
    commits: dict[int, float] = {}  # batch id -> wall-clock commit time
    sink_ms = {"write": 0.0, "marker": 0.0}

    def write(df, batch_id: int) -> None:
        t0 = time.perf_counter()
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink_dir)
        sink_ms["write"] += (time.perf_counter() - t0) * 1000.0

    exactly_once = idempotent(write, os.path.join(base, "markers"))

    def sink(df, batch_id: int) -> None:
        t0, w0 = time.perf_counter(), sink_ms["write"]
        exactly_once(df, batch_id)
        commits[batch_id] = time.time()
        sink_ms["marker"] += (time.perf_counter() - t0) * 1000.0 - (sink_ms["write"] - w0)

    def start(trigger: dict):
        app = App("tbl", spark=spark, checkpoint_root=ckpt, state_store="rocksdb")
        table = app.table("stats", key_schema="u long, t string", value_schema="cnt long, total long, last_due double")
        table.output_schema = OUT_SCHEMA
        events = (
            SourceSpec.memtopic(topic, broker, partitions=PARTITIONS).load(spark)
            .select(F.from_json("value", EVENT_SCHEMA).alias("e")).select("e.*")
        )
        app.table_agent("stats", events, table, sink=sink, trigger=trigger)(update_stats)
        return app

    def drain(n: int = BACKLOG) -> dict:
        now = time.time()
        produce(broker, topic, pool.take(n, [now] * n), n_partitions=PARTITIONS)
        app = start({"availableNow": True})
        t0, w0 = time.perf_counter(), time.time()
        app.run(await_termination=True, timeout=120)
        t1 = time.perf_counter()
        run_ids = [str(q.runId) for q in app.queries]
        app.stop()
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "start_stop": (t0, t1), "run_ids": run_ids,
                "run_called": w0, "app_stop_ms": (t2 - t1) * 1000.0}

    def open_loop(seconds: float) -> dict:
        app = start({"processingTime": TRIGGER})
        t0 = time.perf_counter()
        app.run(await_termination=False)
        # The schedule starts once the restarted query has recovered and
        # committed a first small batch: the window measures the steady
        # state (each drain already pays a restart, inside work_s).
        n_commits = len(commits)
        produce(broker, topic, pool.take(PRIME, [time.time()] * PRIME), n_partitions=PARTITIONS)
        deadline = time.perf_counter() + 120
        while len(commits) == n_commits:
            if time.perf_counter() > deadline:
                app.stop()
                raise RuntimeError("the restarted query committed no batch")
            time.sleep(0.05)
        first = max(commits) + 1
        gen = Generator(pool, broker, topic, seconds)
        gen.start()
        gen.join(timeout=seconds + 60)
        query = app.queries[0]
        query.processAllAvailable()
        run_ids = [str(q.runId) for q in app.queries]
        t1 = time.perf_counter()
        app.stop()
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        last = max(commits, default=-1)
        return {"batches": set(range(first, last + 1)), "late_ms": gen.late_ms,
                "produce_ms": gen.produce_ms, "start_stop": (t0, t1), "run_ids": run_ids}

    attempted = failed = 0
    # warm-up: a small drain pays the cold start (JIT compilation, Python
    # workers, RocksDB, the memtopic reader)
    drain(WARM_BACKLOG)
    ctx.setup_done()

    listener = ProgressLog()

    def traced_call(fn, *args):
        """Run one drain or window, with the listener, job marks and
        Python-worker CPU around it when tracing is on."""
        if not tr.on:
            return fn(*args)
        spark.streams.addListener(listener)
        job0, cpu0, s0 = counters.last_job_id(), pyworker_cpu_ms(), dict(sink_ms)
        try:
            rec = fn(*args)
        finally:
            spark.streams.removeListener(listener)
        rec.update(jobs=(job0, counters.last_job_id()), pyw=pyworker_cpu_ms() - cpu0,
                   sink={k: sink_ms[k] - s0[k] for k in sink_ms})
        return rec

    drains: list[dict] = []
    windows: list[dict] = []
    for k in range(DRAINS):
        # a traced run interleaves untraced and traced iterations in the
        # order u t t u, so a drift over the run does not read as overhead
        tr.on = ctx.traced and k % 4 in (1, 2)
        attempted += 1
        try:
            drains.append(dict(traced_call(drain), traced=tr.on))
        except Exception as exc:  # a drain that raises is a failed operation
            failed += 1
            ctx.log(f"drain {k} failed: {exc!r}")
    for traced_window in ([False, True] if ctx.traced else [False]):
        tr.on = traced_window
        attempted += 1
        try:
            w = dict(traced_call(open_loop, ctx.seconds), traced=tr.on)
        except Exception as exc:
            failed += 1
            ctx.log(f"open-loop window failed: {exc!r}")
            continue
        if percentile(w["late_ms"], 99) > LATE_LIMIT_MS:
            failed += 1
            ctx.log(f"generator ran {percentile(w['late_ms'], 99):.0f} ms late at p99; window invalid")
            continue
        windows.append(w)
    tr.on = False

    # output checks, untimed: the sink's final count and sum per key must
    # equal a pandas groupby over every event published, across restarts
    import pyarrow.parquet as pq

    out_rows = pq.read_table(sink_dir).to_pandas()
    n_events = sum(b - a for a, b in pool.sent)
    attempted += n_events
    dup = out_rows.duplicated(["batch_id", "u", "t"]).sum()
    final = out_rows.sort_values("cnt").groupby(["u", "t"]).last()
    exp = pool.expected()
    both = exp.join(final[["cnt", "total"]], how="left", rsuffix="_got")
    missing = (both["cnt"] - both["cnt_got"].fillna(0)).abs().sum()
    wrong_sum = int((both["total"] != both["total_got"]).sum())
    failed += int(missing) + int(dup) + wrong_sum
    if missing or dup or wrong_sum:
        ctx.log(f"final state: {int(missing)} events off, {int(dup)} duplicate rows, {wrong_sum} wrong sums")

    def summary(ds: list[dict], ws: list[dict]) -> dict[str, float]:
        lat = []
        for w in ws:
            rows = out_rows[out_rows["batch_id"].isin(w["batches"])]
            lat.extend((rows["batch_id"].map(commits) - rows["newest_due"]) * 1000.0)
        walls = [d["wall"] for d in ds]
        return {
            "work_s": median(walls),
            "throughput_mbps": BACKLOG * msg_bytes / MB / median(walls),
            "latency_p50_ms": median(lat) if lat else 0.0,
            "latency_p90_ms": percentile(lat, 90) if lat else 0.0,
            "_samples": float(len(lat)),
        }

    # message bytes per event, as the benchmark built them: independent of
    # how the engine stores or reads its topic, so throughput_mbps is the
    # drain rate (the rate form of work_s) in bytes
    msg_bytes = pool.msg_bytes / n_events
    out = {"attempted": attempted, "failed": failed, "e2e": {}, "layers": {},
           "detail": {"backlog": BACKLOG, "rate_eps": RATE, "trigger": TRIGGER}}
    plain_d = [d for d in drains if not d["traced"]]
    plain_w = [w for w in windows if not w["traced"]]
    if not plain_d or not plain_w:
        return out
    e2e = summary(plain_d, plain_w)
    out["detail"].update(latency_samples=e2e.pop("_samples"), table_drain_eps=BACKLOG / e2e["work_s"],
                         drain_walls=[d["wall"] for d in plain_d],
                         drains=len(plain_d), gen_late_ms_p99=percentile(plain_w[0]["late_ms"], 99))
    out["e2e"] = e2e
    traced_d = [d for d in drains if d["traced"]]
    traced_w = [w for w in windows if w["traced"]]
    if not traced_d or not traced_w:
        return out
    tsum = summary(traced_d, traced_w)
    tsum.pop("_samples")
    ctx.overheads(e2e, tsum)
    layers = out["layers"]
    traced_all = traced_d + traced_w
    n = len(traced_all)
    batches = [b for r in traced_all for rid in r["run_ids"] for b in listener.batches(rid)]
    for name, v in stream_layers(batches).items():
        layers[name] = v / n if name.endswith("_ms") or name in ("stream.batches", "state.rows_updated") else v
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    for r in traced_all:
        for key, v in counters.totals(after_job=r["jobs"][0], upto_job=r["jobs"][1]).items():
            if key in tot:
                tot[key] += v
    for key in STAGE_FIELDS:
        layers[f"exec.{key}.agent"] = tot[key] / n
    wall = median([(r["start_stop"][1] - r["start_stop"][0]) * 1000.0 for r in traced_all])
    layers["exec.wall_ms.agent"] = wall
    layers["exec.core_busy.agent"] = tot["run_ms"] / n / (wall * ctx.cores)
    layers["exec.pyworker_cpu_ms.agent"] = sum(r["pyw"] for r in traced_all) / n
    starts = []
    for d in traced_d:
        first = min((b["timestamp"] for rid in d["run_ids"] for b in listener.batches(rid)), default=None)
        if first is not None:
            starts.append((datetime.fromisoformat(first).timestamp() - d["run_called"]) * 1000.0)
    layers["app.start_ms"] = median(starts) if starts else 0.0
    layers["app.stop_ms"] = median([d["app_stop_ms"] for d in traced_d])
    layers["app.closure_ms"] = sum(r["sink"]["write"] + r["sink"]["marker"] for r in traced_all) / n
    layers["sink.write_ms"] = sum(r["sink"]["write"] for r in traced_all) / n
    layers["sink.marker_ms"] = sum(r["sink"]["marker"] for r in traced_all) / n
    layers["gen.produce_ms"] = sum(w["produce_ms"] for w in traced_w) / len(traced_w)
    layers["gen.late_ms_p99"] = percentile([x for w in traced_w for x in w["late_ms"]], 99)
    return out
