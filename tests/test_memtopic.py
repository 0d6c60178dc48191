"""End-to-end topic transport without a broker or connector jar:
the memtopic DataSource (Kafka twin — partitions, offsets, keyed
produce) driven through the App exactly like the reference's examples.

Parity targets:
- basic.rs:21-32  — counter agent over a topic (message count in state)
- double-agent.rs — agent consumes topic A, produces to topic B,
  second consumer sees the transformed messages
- kafka/cconsumer.rs:85-122 — offset semantics: restart from checkpoint
  consumes only NEW messages
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from callysto_spark.app import App
from callysto_spark.sinks import MemTopicSink
from callysto_spark.sources import SourceSpec
from callysto_spark.sources.memtopic import produce, register


@pytest.fixture()
def broker(tmp_path):
    return str(tmp_path / "broker")


def test_batch_read_roundtrip_and_keyed_routing(spark, broker):
    register(spark)
    msgs = [(f"user{i % 5}", json.dumps({"i": i})) for i in range(100)]
    produce(broker, "t1", msgs, n_partitions=4)
    df = spark.read.format("memtopic").option("brokerDir", broker).option("topic", "t1").load()
    rows = df.collect()
    assert len(rows) == 100
    assert {r["topic"] for r in rows} == {"t1"}
    # same key always routes to the same partition (crc32 routing)
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], set()).add(r["partition"])
    assert all(len(pids) == 1 for pids in by_key.values())
    # offsets are dense per partition
    for pid in {r["partition"] for r in rows}:
        offs = sorted(r["offset"] for r in rows if r["partition"] == pid)
        assert offs == list(range(len(offs)))


def test_counter_agent_parity_and_offset_resume(spark, broker, tmp_path):
    """basic.rs counter agent + cconsumer.rs offset semantics: a restart
    with the same checkpoint must see only messages produced after the
    first run — real offsets, not re-reads."""
    produce(broker, "events", [(None, f"m{i}") for i in range(40)], n_partitions=4)

    def make_app():
        a = App("memtopic_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
        src = SourceSpec.memtopic("events", broker, partitions=4)

        @a.agent("counter", src)
        def counter(df, ctx):
            ctx.state["n"] = ctx.state.get("n", 0) + df.count()

        return a

    a1 = make_app()
    a1.run(await_termination=True, timeout=120)
    a1.stop()
    assert a1.state["n"] == 40

    produce(broker, "events", [(None, f"m{i}") for i in range(7)], n_partitions=4)
    a2 = make_app()
    a2.run(await_termination=True, timeout=120)
    a2.stop()
    assert a2.state["n"] == 7, "restart must resume from committed offsets, not re-read"


def test_double_agent_loop(spark, broker, tmp_path):
    """double-agent shape: agent 1 consumes topic 'in', transforms, and
    produces to topic 'out' via MemTopicSink; a second read of 'out'
    sees the transformed stream. The full consume→process→produce loop
    the reference exists for, with no broker."""
    register(spark)
    produce(broker, "in", [(f"k{i % 3}", str(i)) for i in range(30)], n_partitions=4)

    a = App("loop_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
    out_sink = MemTopicSink("out", broker, n_partitions=2)
    src = SourceSpec.memtopic("in", broker, partitions=4)

    @a.agent("doubler", src)
    def doubler(df, ctx):
        out = df.select(
            F.col("key"), (F.col("value").cast("long") * 2).cast("string").alias("value")
        )
        out_sink.write(out)

    a.run(await_termination=True, timeout=120)
    a.stop()

    out_df = spark.read.format("memtopic").option("brokerDir", broker).option("topic", "out").load()
    got = sorted(int(r["value"]) for r in out_df.collect())
    assert got == sorted(i * 2 for i in range(30))
    # keyed routing survived the hop
    assert out_df.select("partition").distinct().count() <= 2


def test_rate_limited_micro_batches(spark, broker, tmp_path):
    """maxRecordsPerTrigger (Kafka's maxOffsetsPerTrigger parity): an
    availableNow drain must split into multiple micro-batches, each
    admitting at most the cap per partition — the D5 chunking /
    backpressure behavior."""
    register(spark)
    produce(broker, "rl", [(None, str(i)) for i in range(40)], n_partitions=2)
    batch_sizes = []
    stream = (
        spark.readStream.format("memtopic")
        .option("brokerDir", broker)
        .option("topic", "rl")
        .option("partitions", "2")
        .option("maxRecordsPerTrigger", "5")
        .load()
    )
    # Python DataSource streams fall back to single-batch under
    # availableNow, so drain with a continuous trigger and stop when done
    import time

    q = (
        stream.writeStream.foreachBatch(lambda df, bid: batch_sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while sum(batch_sizes) < 40 and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    assert sum(batch_sizes) == 40
    assert len([b for b in batch_sizes if b]) >= 4, f"expected chunked batches, got {batch_sizes}"
    assert all(b <= 10 for b in batch_sizes), f"cap is 5/partition × 2: {batch_sizes}"


def test_partial_trailing_line_invisible(broker):
    """A producer flush can land mid-record (large appends cross write()
    syscalls); lock-free readers must treat an unterminated trailing line
    as not-yet-visible instead of mis-framing or crashing json.loads.
    Admission (_partition_sizes) counts only terminated lines, so a
    planned slice never spans the partial record; a slice that DOES
    over-ask can only mean the log shrank under committed offsets and
    fails located (see _read_slice)."""
    from callysto_spark.sources.memtopic import _log_path, _partition_sizes, _read_slice
    import os

    import pytest

    os.makedirs(os.path.join(broker, "pp"), exist_ok=True)
    path = _log_path(broker, "pp", 0)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"k": None, "v": "a", "ts": 1.0}) + "\n")
        fh.write('{"k": null, "v": "tr')  # partial write, no newline
    assert _partition_sizes(broker, "pp", 1) == {"0": 1}
    assert [r[1] for r in _read_slice(broker, "pp", 0, 0, 1)] == ["a"]
    with pytest.raises(ValueError, match="truncated under committed slice"):
        list(_read_slice(broker, "pp", 0, 0, 2))  # over-ask: offset 1 was never admitted
    with open(path, "a", encoding="utf-8") as fh:  # producer finishes the record
        fh.write('uncated", "ts": 2.0}\n')
    assert _partition_sizes(broker, "pp", 1) == {"0": 2}
    assert [r[1] for r in _read_slice(broker, "pp", 0, 0, 2)] == ["a", "truncated"]


def test_rate_cap_restart_no_redelivery(spark, broker, tmp_path):
    """Restart of a rate-limited stream must not regress the offset log:
    a fresh reader's watermark is ratcheted from Spark's checkpointed
    start (partitions/commit), so records processed before the restart
    are never re-admitted and new records all arrive exactly once."""
    import time

    register(spark)
    produce(broker, "rcr", [(None, str(i)) for i in range(20)], n_partitions=1)
    seen: list[str] = []

    def drain(expect_new: int) -> None:
        start_len = len(seen)
        stream = (
            spark.readStream.format("memtopic")
            .option("brokerDir", broker)
            .option("topic", "rcr")
            .option("partitions", "1")
            .option("maxRecordsPerTrigger", "5")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: seen.extend(r["value"] for r in df.select("value").collect())
            )
            .option("checkpointLocation", str(tmp_path / "rcr_ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 120
        while len(seen) - start_len < expect_new and time.time() < deadline:
            time.sleep(0.3)
        time.sleep(1.0)  # extra trigger cycles would expose re-delivery
        q.stop()

    drain(20)
    produce(broker, "rcr", [(None, str(i)) for i in range(20, 30)], n_partitions=1)
    drain(10)
    assert sorted(seen, key=int) == [str(i) for i in range(30)], (
        f"expected exactly-once across restart, got {len(seen)} values "
        f"({len(seen) - len(set(seen))} dups)"
    )


def test_rate_cap_with_available_now_rejected(spark, broker, tmp_path):
    """maxRecordsPerTrigger + availableNow is a silent under-read (Python
    DataSource availableNow is single-batch), so the App refuses it."""
    produce(broker, "anx", [(None, "x")] * 3, n_partitions=1)
    a = App("anx_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
    src = SourceSpec.memtopic("anx", broker, partitions=1, maxRecordsPerTrigger="5")

    @a.agent("reader", src)
    def reader(df, ctx):
        pass

    with pytest.raises(ValueError, match="availableNow"):
        a.run(await_termination=True, timeout=60)
    a.stop()


def test_starting_offsets_latest(spark, broker, tmp_path):
    """startingOffsets=latest: history before the stream starts is
    skipped (auto.offset.reset parity)."""
    register(spark)
    produce(broker, "so", [(None, "old")] * 15, n_partitions=2)
    seen = []
    stream = (
        spark.readStream.format("memtopic")
        .option("brokerDir", broker)
        .option("topic", "so")
        .option("partitions", "2")
        .option("startingOffsets", "latest")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "so_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(seen) == 0, f"latest must skip pre-start history: {seen}"


def test_declare_memtopic_idempotent(spark, broker):
    """S10 topic admin against the runnable broker: partition logs
    created, config recorded, re-declare is a no-op, and produced data
    survives re-declaration."""
    from callysto_spark.sources.admin import TopicSpec, declare_memtopic

    spec = TopicSpec("changelog", partitions=3, compacting=True, retention_ms=1000)
    meta = declare_memtopic(spec, broker)
    assert meta["cleanup.policy"] == "compact,delete" and meta["partitions"] == 3
    produce(broker, "changelog", [("k", "v")], n_partitions=3)
    declare_memtopic(spec, broker)  # idempotent
    register(spark)
    df = spark.read.format("memtopic").option("brokerDir", broker).option("topic", "changelog").option("partitions", "3").load()
    assert df.count() == 1


def test_topic_to_stateful_table(spark, broker, tmp_path):
    """The reference's core table workload: consume a topic, update a
    keyed changelog table, emit updates — memtopic source → CTable
    (GroupState) → parquet sink, with offset-correct restart."""
    import pandas as pd

    out_dir = str(tmp_path / "out")
    produce(broker, "kv", [(f"u{i % 3}", "1") for i in range(30)], n_partitions=4)

    def make_app():
        a = App("kv_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
        src = SourceSpec.memtopic("kv", broker, partitions=4)
        table = a.table("user_counts", key_schema="key string", value_schema="cnt long")
        table.output_schema = "key string, cnt long"

        @a.table_agent(
            "kv_agent",
            src,
            table,
            sink=lambda b: b.write.mode("append").parquet(out_dir),
        )
        def kv_agent(key, pdf, state):
            prev = state.get()
            cnt = (prev[0] if prev else 0) + len(pdf)
            state.set(cnt)
            return pd.DataFrame({"key": [key[0]], "cnt": [cnt]})

        return a

    a1 = make_app()
    a1.run(await_termination=True, timeout=120)
    a1.stop()
    latest = {
        r["key"]: r["cnt"]
        for r in spark.read.parquet(out_dir).groupBy("key").agg(F.max("cnt").alias("cnt")).collect()
    }
    assert latest == {"u0": 10, "u1": 10, "u2": 10}

    # more messages for one key; state must continue from the table
    produce(broker, "kv", [("u1", "1")] * 5, n_partitions=4)
    a2 = make_app()
    a2.run(await_termination=True, timeout=120)
    a2.stop()
    latest = {
        r["key"]: r["cnt"]
        for r in spark.read.parquet(out_dir).groupBy("key").agg(F.max("cnt").alias("cnt")).collect()
    }
    assert latest == {"u0": 10, "u1": 15, "u2": 10}


def test_streaming_writer_path(spark, broker, tmp_path):
    """writeStream.format('memtopic') — the native streaming producer
    (DataSourceStreamWriter), mirroring the Kafka writer contract."""
    register(spark)
    produce(broker, "src", [(None, str(i)) for i in range(10)], n_partitions=2)
    stream = (
        spark.readStream.format("memtopic")
        .option("brokerDir", broker)
        .option("topic", "src")
        .load()
        .select("key", "value")
    )
    q = (
        stream.writeStream.format("memtopic")
        .option("brokerDir", broker)
        .option("topic", "dst")
        .option("partitions", "2")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.format("memtopic").option("brokerDir", broker).option("topic", "dst").load()
    assert sorted(r["value"] for r in out.collect()) == sorted(str(i) for i in range(10))


def test_kafka_descriptor_does_not_mangle_source_level_options():
    """Spark SOURCE-level options must keep their names; only Kafka
    client configs get the kafka. prefix. Blind prefixing turned e.g.
    maxOffsetsPerTrigger into an unknown client property the consumer
    silently ignores — no backpressure cap."""
    from callysto_spark.sources import SourceSpec

    spec = SourceSpec.kafka(
        "t",
        bootstrap_servers="b:9092",
        maxOffsetsPerTrigger="500",
        failOnDataLoss="false",
        minPartitions="8",
        **{"session.timeout.ms": "10000", "kafka.security.protocol": "SSL"},
    )
    o = spec.options
    assert o["maxOffsetsPerTrigger"] == "500"
    assert o["failOnDataLoss"] == "false"
    assert o["minPartitions"] == "8"
    assert o["kafka.session.timeout.ms"] == "10000"  # client config: prefixed
    assert o["kafka.security.protocol"] == "SSL"     # already prefixed: kept
    assert "kafka.maxOffsetsPerTrigger" not in o


def test_consumer_config_routes_client_options_through_whitelist():
    """ConsumerConfig.extra/security must use the same source-level
    whitelist as SourceSpec.kafka: a prefix heuristic (startswith max/
    min/...) emitted real CLIENT configs like max.poll.records as
    unknown source options Spark silently ignores."""
    from callysto_spark.config import ConsumerConfig

    opts = ConsumerConfig(
        extra={
            "max.poll.records": "500",                     # client: needs prefix
            "maxOffsetsPerTrigger": "100",                 # source-level: bare
            "kafka.security.protocol": "SSL",              # already prefixed
        },
        security={"min.insync.replicas": "2"},             # client: needs prefix
    ).to_source_options("t")
    assert opts["kafka.max.poll.records"] == "500"
    assert "max.poll.records" not in opts
    assert opts["maxOffsetsPerTrigger"] == "100"
    assert opts["kafka.security.protocol"] == "SSL"
    assert opts["kafka.min.insync.replicas"] == "2"


def test_corrupt_log_record_fails_named(spark, broker):
    """A corrupted COMMITTED log line must fail the read with a located
    error (topic/partition/offset), never a bare KeyError from a task —
    and never be silently skipped, which would shift every later offset
    (Kafka parity: CorruptRecordException is failfast too)."""
    from callysto_spark.sources.memtopic import _log_path

    register(spark)
    produce(broker, "corrupt_t", [(None, f"m{i}") for i in range(8)], n_partitions=1)
    path = _log_path(broker, "corrupt_t", 0)
    lines = open(path).read().splitlines(keepends=True)
    lines[3] = '{"k": null, "wrong_shape": 1}\n'
    lines[5] = "not json at all\n"
    open(path, "w").write("".join(lines))
    df = spark.read.format("memtopic").option("brokerDir", broker).option("topic", "corrupt_t").option("partitions", "1").load()
    with pytest.raises(Exception) as err:
        df.collect()
    msg = str(err.value)
    assert "corrupt memtopic log record" in msg and "corrupt_t/p0@3" in msg, msg


def test_read_slice_of_truncated_or_missing_log_fails_located():
    """The slice-level half of the truncation contract: a REPLAYED
    pending batch gets its offsets from Spark's offset log, not from
    latestOffset, so the stream-reader watermark checks never see it.
    _read_slice itself must therefore refuse to come up short: a slice
    planned for committed offsets that finds fewer terminated lines
    (log truncated underneath it) or no file at all (log destroyed)
    fails located instead of silently yielding fewer records."""
    import os
    import tempfile

    import pytest

    from callysto_spark.sources.memtopic import _log_path, _read_slice, produce

    broker = tempfile.mkdtemp(prefix="mt_slice_")
    produce(broker, "sl", [(None, f"m{i}") for i in range(5)], n_partitions=1)
    assert [r[1] for r in _read_slice(broker, "sl", 0, 0, 5)] == [f"m{i}" for i in range(5)]

    path = _log_path(broker, "sl", 0)
    with open(path, "r", encoding="utf-8") as fh:
        two_lines = "".join(fh.readlines()[:2])
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(two_lines)
    with pytest.raises(ValueError, match=r"truncated under committed slice sl/p0\[0,5\)"):
        list(_read_slice(broker, "sl", 0, 0, 5))
    # a shorter slice over the surviving prefix still reads cleanly
    assert [r[1] for r in _read_slice(broker, "sl", 0, 0, 2)] == ["m0", "m1"]

    os.remove(path)
    with pytest.raises(ValueError, match=r"log missing for committed slice sl/p0"):
        list(_read_slice(broker, "sl", 0, 0, 5))
    # empty slice over a missing log is fine (empty topic, nothing planned)
    assert list(_read_slice(broker, "sl", 0, 0, 0)) == []


def test_torn_multibyte_utf8_tail_invisible(broker):
    """produce() writes ensure_ascii=False, so a torn flush can end
    MID-multi-byte-character. A strict text iterator raises
    UnicodeDecodeError while decoding the partial line BEFORE the
    newline-visibility rule can run — readers must scan in binary and
    only decode terminated lines (r7 review)."""
    import os

    from callysto_spark.sources.memtopic import _log_path, _partition_sizes, _read_slice

    os.makedirs(os.path.join(broker, "torn"), exist_ok=True)
    path = _log_path(broker, "torn", 0)
    full = json.dumps({"k": None, "v": "héllo", "ts": 1.0}, ensure_ascii=False).encode()
    torn = json.dumps({"k": None, "v": "wörld", "ts": 2.0}, ensure_ascii=False).encode()
    # cut inside ö's two-byte sequence, no newline
    cut = torn.index("ö".encode()) + 1
    with open(path, "wb") as fh:
        fh.write(full + b"\n" + torn[:cut])
    assert _partition_sizes(broker, "torn", 1) == {"0": 1}
    assert [r[1] for r in _read_slice(broker, "torn", 0, 0, 1)] == ["héllo"]
    # producer finishes the record: both visible, non-ascii intact
    with open(path, "ab") as fh:
        fh.write(torn[cut:] + b"\n")
    assert [r[1] for r in _read_slice(broker, "torn", 0, 0, 2)] == ["héllo", "wörld"]


def test_writer_path_honors_explicit_partition(spark, broker):
    """df.write.format('memtopic') must pin rows carrying an explicit
    `partition` column, matching the foreachBatch sink and the Kafka
    writer — the DataSource writer used to drop the column and silently
    key-route (r7 review)."""
    from callysto_spark.sources.memtopic import _log_path

    register(spark)
    (
        spark.createDataFrame(
            [("a", "v0", 2), ("b", "v1", 2), ("c", "v2", 0)],
            "key string, value string, partition int",
        )
        .coalesce(1)
        .write.format("memtopic")
        .mode("append")
        .option("brokerDir", broker)
        .option("topic", "pinned")
        .option("partitions", "4")
        .save()
    )

    def vals(pid):
        path = _log_path(broker, "pinned", pid)
        import os

        if not os.path.exists(path):
            return []
        return sorted(json.loads(ln)["v"] for ln in open(path) if ln.strip())

    assert vals(2) == ["v0", "v1"] and vals(0) == ["v2"]
    assert vals(1) == [] and vals(3) == []


def test_keyless_round_robin_continues_across_chunks(spark, broker):
    """The writer flushes a task's rows in PRODUCE_CHUNK_ROWS chunks and
    carries the running row index across them, so keyless round-robin
    routing continues at each chunk boundary. 2*CHUNK + 1 keyless rows
    through ONE task on 3 partitions must land exactly evenly; restarting
    the index per chunk would put 6,669/6,666/6,666 (3 partitions, unlike
    4, do not divide a 10,000-row chunk)."""
    from callysto_spark.sources.memtopic import PRODUCE_CHUNK_ROWS

    register(spark)
    n = 2 * PRODUCE_CHUNK_ROWS + 1
    (
        spark.range(n)
        .select(F.col("id").cast("string").alias("value"))
        .coalesce(1)
        .write.format("memtopic")
        .mode("append")
        .option("brokerDir", broker)
        .option("topic", "rr")
        .option("partitions", "3")
        .save()
    )
    out = (
        spark.read.format("memtopic")
        .option("brokerDir", broker)
        .option("topic", "rr")
        .option("partitions", "3")
        .load()
    )
    counts = {
        r["partition"]: r["n"]
        for r in out.groupBy("partition").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {0: n // 3, 1: n // 3, 2: n // 3}, counts


def test_writer_produces_in_bounded_chunks(broker, monkeypatch):
    """A write task must not materialize its whole partition as one
    Python list: it calls produce() once per PRODUCE_CHUNK_ROWS rows,
    each call offset by the rows already sent."""
    from pyspark.sql import Row

    from callysto_spark.sources import memtopic

    calls = []
    monkeypatch.setattr(
        memtopic,
        "produce",
        lambda broker_dir, topic, msgs, n_partitions, base_index=0: calls.append(
            (len(msgs), base_index)
        ),
    )
    chunk = memtopic.PRODUCE_CHUNK_ROWS
    writer = memtopic.MemTopicBatchWriter({"brokerDir": broker, "topic": "c", "partitions": "3"})
    writer.write(Row(value=str(i)) for i in range(2 * chunk + 1))
    assert calls == [(chunk, 0), (chunk, chunk), (1, 2 * chunk)]
