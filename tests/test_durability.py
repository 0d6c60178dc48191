"""Randomized crash-soak durability (round-5 VERDICT item 6): a memtopic
consumer driven through ≥20 micro-batches while being killed at batch
boundaries AND mid-commit across ≥5 app restart cycles, with an
exactly-once assertion over the final sink contents.

Reference analog: the 'fallback restart loop (types/agent.rs:120-147)
and recovery service (runtime/recovery.rs:51-99) — an agent crash must
never lose or duplicate a message once the sink is idempotent per
batch_id.

Crash schedule is DETERMINISTIC (batch_id modular, first attempt only)
so both injected modes provably fire and failures reproduce exactly:
- pre-write crash  = the batch fails before any output (a batch-boundary
  kill: replay must re-deliver identical content under the same id);
- post-write crash = output written, marker NOT yet committed (the
  mid-commit kill: the replay re-runs the write, and exactly-once comes
  from the write being an overwrite of a batch_id-addressed path — the
  documented filesystem-sink idempotency pattern, sinks/exactly_once.py).
External kills come from a seeded RNG: each cycle stops the app at a
random point in flight (a random time, or a random share of its backlog
when it would drain sooner), then a fresh App resumes from the checkpoint.
"""

from __future__ import annotations

import json
import os
import random
import time

import pytest

from callysto_spark.app import App
from callysto_spark.sinks.exactly_once import idempotent
from callysto_spark.sources import SourceSpec
from callysto_spark.sources.memtopic import produce

TOTAL_MSGS = 2000
CYCLES = 6
PER_PARTITION_CAP = 25  # × 4 partitions ⇒ ≥20 micro-batches for 2000 msgs
BATCH_ROWS = PER_PARTITION_CAP * 4


def test_randomized_crash_soak_exactly_once(spark, tmp_path):
    rng = random.Random(0xC0FFEE)  # external-kill timing only
    broker = str(tmp_path / "broker")
    out = str(tmp_path / "out")
    markers = str(tmp_path / "markers")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)

    chunks = [TOTAL_MSGS // CYCLES] * CYCLES
    chunks[0] += TOTAL_MSGS - sum(chunks)
    produced = 0

    attempts: dict[int, int] = {}  # batch_id → attempt count
    crashes = {"pre": 0, "post": 0, "kills": 0}
    delivered: set[int] = set()  # progress indicator (assertion reads parquet)

    def write(df, batch_id):
        attempts[batch_id] = attempts.get(batch_id, 0) + 1
        first = attempts[batch_id] == 1
        if first and batch_id % 9 == 3:
            crashes["pre"] += 1
            raise RuntimeError(f"injected pre-write crash (batch {batch_id})")
        rows = [json.loads(r["value"])["i"] for r in df.select("value").collect()]
        # exactly-once under replay: the path is addressed by batch_id and
        # OVERWRITTEN — a replayed batch (same id, same checkpointed
        # offsets ⇒ same content) lands in the same place
        df.select("value").write.mode("overwrite").parquet(f"{out}/b{batch_id}")
        if first and batch_id % 9 == 6:
            crashes["post"] += 1
            raise RuntimeError(f"injected post-write crash (batch {batch_id})")
        delivered.update(rows)

    sink = idempotent(write, markers)

    def run_cycle(final: bool) -> None:
        a = App("soak", spark=spark, checkpoint_root=ckpt)
        src = SourceSpec.memtopic(
            "soak", broker, partitions=4, maxRecordsPerTrigger=str(PER_PARTITION_CAP)
        )

        @a.agent("eater", src, trigger={"processingTime": "0 seconds"})
        def eater(df, ctx):
            sink(df, ctx.batch_id)

        a.enable_auto_restart(poll_seconds=0.25, max_restarts=100)
        a.run(await_termination=False)
        deadline = time.time() + (120 if final else rng.uniform(2.0, 7.0))
        # a cycle fast enough to drain before its deadline is stopped once a
        # seeded share of its backlog is in, with two batches of it left
        backlog = produced - len(delivered)
        kill_at = None if final else len(delivered) + rng.randint(1, backlog - 2 * BATCH_ROWS)
        try:
            while time.time() < deadline:
                if final and len(delivered) >= produced:
                    return  # drained everything produced so far
                if not final and len(delivered) >= kill_at:
                    break
                time.sleep(0.05)
            if final:
                pytest.fail(
                    f"final drain incomplete: {len(delivered)}/{produced} "
                    f"(crashes={crashes}, batches={len(attempts)})"
                )
            if len(delivered) < produced:
                crashes["kills"] += 1  # external kill, mid-flight
        finally:
            a.stop()

    for c in range(CYCLES):
        produce(
            broker,
            "soak",
            [(f"k{i % 7}", json.dumps({"i": i})) for i in range(produced, produced + chunks[c])],
            n_partitions=4,
        )
        produced += chunks[c]
        run_cycle(final=False)
    run_cycle(final=True)  # no kill: drain to the end

    # ---- exactly-once assertion from the SINK's actual contents
    import pyarrow.parquet as pq

    ids: list[int] = []
    for d in sorted(os.listdir(out)):
        tab = pq.read_table(os.path.join(out, d))
        ids.extend(json.loads(v)["i"] for v in tab.column("value").to_pylist())
    assert len(ids) == TOTAL_MSGS, (
        f"lost or duplicated rows: {len(ids)} != {TOTAL_MSGS} "
        f"(dups={len(ids) - len(set(ids))}, crashes={crashes})"
    )
    assert sorted(ids) == list(range(TOTAL_MSGS))

    # ---- the soak actually soaked
    assert len(attempts) >= 20, f"only {len(attempts)} micro-batches"
    assert crashes["pre"] >= 1, "pre-write crash mode never fired"
    assert crashes["post"] >= 1, "post-write crash mode never fired"
    assert crashes["kills"] >= 1, "no external mid-flight kill happened"
    replayed = [b for b, n in attempts.items() if n > 1]
    assert replayed, "no batch was ever replayed — the soak proved nothing"


def test_stateful_table_agent_crash_cycle_soak(spark, tmp_path):
    """State-surface twin of the crash soak (reference recovery.rs +
    inmemory.rs): a table_agent's keyed state must survive repeated
    kill/restart cycles over a memtopic source — per-key counts and
    sums CONTINUE from the checkpoint, never reset and never
    double-apply a replayed batch. Crash modes: a sink that fails the
    FIRST attempt of every third batch (the batch replays with the
    same id and identical content), plus the hard cycle boundary (the
    App object is discarded and rebuilt on the same checkpoint).
    """
    import pandas as pd
    import pyarrow.parquet as pq

    broker = str(tmp_path / "broker")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)
    truth_cnt: dict[str, int] = {}
    truth_sum: dict[str, int] = {}
    attempts: dict[int, int] = {}
    produced = 0

    def run_cycle(chunk: int) -> None:
        nonlocal produced
        msgs = []
        for i in range(produced, produced + chunk):
            k = f"k{i % 5}"
            msgs.append((k, json.dumps({"i": i})))
            truth_cnt[k] = truth_cnt.get(k, 0) + 1
            truth_sum[k] = truth_sum.get(k, 0) + i
        produce(broker, "state_soak", msgs, n_partitions=4)
        produced += chunk

        a = App("state_soak", spark=spark, checkpoint_root=ckpt)
        src = SourceSpec.memtopic("state_soak", broker, partitions=4)
        stream = src.load(spark).selectExpr(
            "key", "CAST(get_json_object(value, '$.i') AS LONG) AS i"
        )
        table = a.table("soak_counts", key_schema="key string", value_schema="cnt long, total long")
        table.output_schema = "key string, cnt long, total long"

        def sink(df, batch_id):
            attempts[batch_id] = attempts.get(batch_id, 0) + 1
            if attempts[batch_id] == 1 and batch_id % 3 == 2:
                raise RuntimeError(f"injected sink crash (batch {batch_id})")
            df.write.mode("overwrite").parquet(f"{out}/b{batch_id}")

        @a.table_agent("soak_agent", stream, table, sink=sink)
        def soak_agent(key, pdf, state):
            prev = state.get()
            cnt = (prev[0] if prev else 0) + len(pdf)
            total = (prev[1] if prev else 0) + int(pdf["i"].sum())
            state.set(cnt, total)
            return pd.DataFrame({"key": [key[0]], "cnt": [cnt], "total": [total]})

        a.enable_auto_restart(poll_seconds=0.25, max_restarts=20)
        a.run(await_termination=True, timeout=120)
        a.stop()

    for c in range(5):
        run_cycle(200)

    # latest state per key across all batch outputs = the final counters
    latest: dict[str, tuple[int, int, int]] = {}
    for d in sorted(os.listdir(out), key=lambda s: int(s[1:])):
        b = int(d[1:])
        tab = pq.read_table(os.path.join(out, d))
        if "key" not in tab.column_names:
            continue  # empty batch: zero-partition writes emit no part files
        for k, cnt, total in zip(*(tab.column(c).to_pylist() for c in ("key", "cnt", "total"))):
            if k not in latest or b >= latest[k][0]:
                latest[k] = (b, cnt, total)
    got_cnt = {k: v[1] for k, v in latest.items()}
    got_sum = {k: v[2] for k, v in latest.items()}
    assert got_cnt == truth_cnt, f"state lost or double-applied: {got_cnt} != {truth_cnt}"
    assert got_sum == truth_sum
    replayed = [b for b, n in attempts.items() if n > 1]
    assert replayed, "no batch was ever crashed+replayed — the soak proved nothing"


def test_torn_write_truncation_soak(spark, tmp_path):
    """Torn-write chaos on the memtopic log (round-6 VERDICT item 5):
    partial-line writes cut at seeded-random byte offsets.

    Two torn-write classes, two required outcomes:
    - a torn APPEND (the trailing, never-committed record lands without
      its newline): invisible to readers until the producer completes
      it — every drain resumes cleanly past the recovery point and the
      completed record arrives exactly once, no loss, no dup;
    - a truncation DESTROYING committed records (torn flush of an
      already-visible region, disk loss): the restarted consumer must
      fail with a LOCATED error naming topic/partition and the
      committed-vs-visible offsets — never silently re-map new records
      onto the lost offsets (which would skip records with no error at
      all, the worst failure mode).

    Reference analog: changelog replay idempotence,
    runtime/recovery.rs:51-99.
    """
    from callysto_spark.sources.memtopic import _log_path, produce, register

    register(spark)
    broker = str(tmp_path / "broker")
    ckpt = str(tmp_path / "ckpt")
    topic = "torn"
    rng = random.Random(0xBEEF)
    seen: list[str] = []

    def drain() -> None:
        stream = (
            spark.readStream.format("memtopic")
            .option("brokerDir", broker)
            .option("topic", topic)
            .option("partitions", "1")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: seen.extend(r["value"] for r in df.select("value").collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    produce(broker, topic, [(None, f"m{i}") for i in range(60)], n_partitions=1)
    drain()
    assert len(seen) == 60
    path = _log_path(broker, topic, 0)

    # -- class 1: torn appends at arbitrary byte offsets, 4 cycles
    expected = 60
    for cycle in range(4):
        line = json.dumps({"k": None, "v": f"new{cycle}", "ts": 1.0}) + "\n"
        cut = rng.randrange(1, len(line) - 1)
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(line[:cut])  # torn mid-record: no trailing newline
        drain()  # restart on the same checkpoint: clean, nothing new admitted
        assert len(seen) == expected, (
            f"cycle {cycle}: a partial record (cut at byte {cut}) leaked into a batch"
        )
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(line[cut:])  # producer completes the record
        drain()
        expected += 1
        assert len(seen) == expected
        assert seen.count(f"new{cycle}") == 1, f"cycle {cycle}: lost or duplicated"

    # -- class 2: truncation destroying committed records
    size = os.path.getsize(path)
    cut = rng.randrange(1, size - 1)
    with open(path, "r+b") as fh:
        fh.truncate(cut)
    before = list(seen)
    with pytest.raises(Exception) as exc_info:
        drain()
    msg = str(exc_info.value)
    assert "truncated below committed offset" in msg, msg
    assert f"{topic}/p0" in msg, msg
    assert seen == before, "a batch ran against the truncated log"
