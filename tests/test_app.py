"""App framework tests: agents, flows, stateful table agents, recovery
(reference workloads: basic.rs counter, inmemory.rs odd/even — SURVEY §5
F1/F2 fixtures)."""

from __future__ import annotations

import os
import re
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from callysto_spark.app import App
from callysto_spark.sources import SourceSpec
from callysto_spark.tables import load


@pytest.fixture()
def app(spark, tmp_path):
    a = App("test_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
    yield a
    a.stop()


def test_agent_counts_messages(app, spark, sf_dir):
    """Reference basic.rs: count messages into app state."""
    events = load(spark, sf_dir, "events")["events"]

    @app.agent("counter", events)
    def counter(df, ctx):
        ctx.state["n"] = ctx.state.get("n", 0) + df.count()
        ctx.commit(None)  # parity no-op

    app.run(await_termination=False)
    assert app.state["n"] == events.count()


def test_flow_transform_to_view(app, spark, sf_dir):
    events = load(spark, sf_dir, "events")["events"]

    @app.flow("purchases", events, collect_to="purchase_view")
    def purchases(df):
        return df.filter(F.col("event_type") == "purchase").select("event_id")

    app.run(await_termination=False)
    expect = events.filter(F.col("event_type") == "purchase").count()
    assert spark.table("purchase_view").count() == expect


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_table_agent_parity_counts_and_recovery(spark, tmp_path, sf_dir, provider):
    """Reference inmemory.rs odd/even tables + runtime/recovery.rs:
    restart must resume state from the checkpoint — on both state-store
    providers (RocksDB is the at-scale one; reference stores/rocksdb.rs)."""
    prev_provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    out_dir = str(tmp_path / "out")

    def make_app():
        a = App(
            "test_state",
            spark=spark,
            checkpoint_root=str(tmp_path / "ckpt"),
            state_store=provider,
        )
        src = SourceSpec.parquet_stream(
            str(stream_dir),
            schema="event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        stream = src.load(spark).withColumn(
            "parity", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd")
        )
        table = a.table("parity_counts", key_schema="parity string", value_schema="cnt long")
        table.output_schema = "parity string, cnt long"

        @a.table_agent(
            "parity_agent",
            stream,
            table,
            sink=lambda b: b.write.mode("append").parquet(out_dir),
        )
        def parity_agent(key, pdf, state):
            prev = state.get()
            cnt = (prev[0] if prev else 0) + len(pdf)
            state.set(cnt)
            return pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

        return a

    a1 = make_app()
    a1.run(await_termination=True, timeout=120)
    a1.stop()
    first = {r["parity"]: r["cnt"] for r in spark.read.parquet(out_dir).collect()}
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert first == {"even": n // 2, "odd": n // 2}

    # restart with more data: state must continue, not reset
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "b.parquet")
    a2 = make_app()
    a2.run(await_termination=True, timeout=120)
    a2.stop()
    rows = spark.read.parquet(out_dir).groupBy("parity").agg(F.max("cnt").alias("cnt")).collect()
    assert {r["parity"]: r["cnt"] for r in rows} == {"even": n, "odd": n}
    if prev_provider is not None:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev_provider)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


STATE_STORE_PREFIX = "spark.sql.streaming.stateStore."


def _state_store_confs(spark) -> dict[str, str]:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith(STATE_STORE_PREFIX)}


def test_unknown_state_store_provider_is_rejected(spark, tmp_path):
    """A provider name other than "rocksdb"/"hdfs" (here a case slip)
    must raise before any conf is set, not fall back to the heap store."""
    before = _state_store_confs(spark)
    with pytest.raises(ValueError, match="hdfs.*rocksdb"):
        App("bad_store", spark=spark, checkpoint_root=str(tmp_path), state_store="RocksDB")
    assert _state_store_confs(spark) == before


def test_rocksdb_state_store_confs_are_pinned(spark, tmp_path):
    """The exact state-store confs a session holds after
    App(state_store="rocksdb"): the provider class plus the reference's
    RocksDB tuning (stores/rocksdb.rs:35-62)."""
    before = _state_store_confs(spark)
    for k in before:
        spark.conf.unset(k)
    try:
        App("rocks_store", spark=spark, checkpoint_root=str(tmp_path), state_store="rocksdb")
        r = STATE_STORE_PREFIX + "rocksdb."
        assert _state_store_confs(spark) == {
            STATE_STORE_PREFIX + "providerClass": (
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            ),
            r + "changelogCheckpointing.enabled": "true",
            r + "compactOnCommit": "false",
            r + "boundedMemoryUsage": "true",
            r + "trackTotalNumberOfRows": "true",
            r + "writeBufferSizeMB": "64",
            r + "maxWriteBufferNumber": "3",
            r + "blockCacheSizeMB": "2048",
            r + "maxOpenFiles": "-1",
        }
    finally:
        for k in _state_store_confs(spark):
            spark.conf.unset(k)
        for k, v in before.items():
            spark.conf.set(k, v)


def test_task_timer_service_lifecycle(app, spark):
    import time

    ticks = []

    @app.task
    def startup(ctx):
        ctx.state["started"] = True

    @app.timer(0.2)
    def tick(ctx):
        ticks.append(1)

    @app.service
    def svc(ctx, stop_event):
        ctx.state["svc"] = "running"
        stop_event.wait()
        ctx.state["svc"] = "stopped"

    app.run(await_termination=False)
    time.sleep(1.0)
    assert app.state["started"] is True
    assert app.state["svc"] == "running"
    assert len(ticks) >= 2
    app.stop()
    time.sleep(0.3)
    assert app.state["svc"] == "stopped"


def test_service_dependency_start_order(app, spark):
    """Reference starts a service's dependencies before the service
    itself (`types/service.rs:146-151`)."""

    def db(ctx, stop_event):
        stop_event.wait()

    def cache(ctx, stop_event):
        stop_event.wait()

    def api(ctx, stop_event):
        stop_event.wait()

    # register intentionally out of dependency order
    app.service(api, deps=[cache, db])
    app.service(cache, deps=[db])
    app.service(db)
    app.run(await_termination=False)
    order = app._service_start_order
    assert order.index("db") < order.index("cache") < order.index("api")
    app.stop()


def test_supervision_tracks_foreachbatch_queries(app, spark, tmp_path, sf_dir):
    """Every started query must carry a name and an owner mapping —
    the silent-failure path was foreachBatch queries with name=None."""
    import shutil

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )

    @app.agent("fb_agent", src)
    def fb_agent(df, ctx):
        ctx.state["rows"] = ctx.state.get("rows", 0) + df.count()

    app.run(await_termination=True, timeout=120)
    assert app.state["rows"] > 0
    for q in app.queries:
        assert q.name is not None, "foreachBatch query must have a queryName"
        assert app._query_owner.get(str(q.id)) == "fb_agent"
    app.stop_agent("fb_agent")
    assert app.queries == []


def test_table_agent_processing_time_timeout(spark, tmp_path, sf_dir):
    """Processing-time TTL: state armed with a short timeout is handed
    back to the closure (timed_out=True, empty batch) when a later
    micro-batch runs past the deadline — the eviction surface the
    reference's tables lack."""
    import shutil
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    from callysto_spark.app import App
    from callysto_spark.sources import SourceSpec

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    out_dir = str(tmp_path / "out")

    def make_app():
        a = App("ttl_app", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
        src = SourceSpec.parquet_stream(
            str(stream_dir),
            schema="event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        stream = src.load(spark).withColumn(
            "parity", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd")
        )
        table = a.table("ttl_counts", key_schema="parity string", value_schema="cnt long")
        table.output_schema = "parity string, cnt long"

        @a.table_agent(
            "ttl_agent",
            stream,
            table,
            timeout="ProcessingTimeTimeout",
            sink=lambda b: b.write.mode("append").parquet(out_dir),
        )
        def agent(key, pdf, state):
            if state.timed_out:
                state.delete()  # evict → emit tombstone count -1
                return pd.DataFrame({"parity": [key[0]], "cnt": [-1]})
            prev = state.get()
            cnt = (prev[0] if prev else 0) + len(pdf)
            state.set(cnt)
            state.set_timeout_ms(100)
            return pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

        return a

    # availableNow keeps the query alive while processing-time timers are
    # pending, so awaitTermination times out — bound it tightly and stop.
    a1 = make_app()
    a1.run(await_termination=True, timeout=25)
    a1.stop()
    _time.sleep(0.5)  # let the processing-time deadline pass
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "b.parquet")
    a2 = make_app()
    a2.run(await_termination=True, timeout=25)
    a2.stop()
    rows = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    # run 2's batch first fires the timeout callbacks (tombstones), then
    # processes the new file against the now-deleted state
    assert ("even", -1) in rows and ("odd", -1) in rows
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert ("even", n // 2) in rows  # run 1


@pytest.mark.parametrize(
    "register",
    [
        # the removed binding selector
        lambda a, src, table: a.table_agent("t", src, table, api="tws"),
        # agents have no sink: their closure writes
        lambda a, src, table: a.agent("t", src, sink=print),
        # a misspelt timeout must not run the agent with none
        lambda a, src, table: a.table_agent("t", src, table, timout="ProcessingTimeTimeout"),
    ],
    ids=["table_agent_api", "agent_sink", "table_agent_timout"],
)
def test_agent_options_are_closed_keywords(app, tmp_path, register):
    """Agent options are keyword-only parameters: an unknown keyword
    raises TypeError at registration instead of being silently dropped."""
    src = SourceSpec.parquet_stream(str(tmp_path), schema="k string")
    table = app.table("t", key_schema="k string", value_schema="cnt long")
    with pytest.raises(TypeError, match="unexpected keyword argument"):
        register(app, src, table)
    assert app._streams == {}


@pytest.mark.parametrize(
    "first, second",
    [("agent", "flow"), ("flow", "table_agent"), ("table_agent", "agent")],
)
def test_stream_names_register_once(app, tmp_path, first, second):
    """Agents, table agents and flows share one name space (one
    checkpoint directory and query name per name): a second registration
    under a taken name raises and leaves the first one in place."""
    src = SourceSpec.parquet_stream(str(tmp_path), schema="k string")
    table = app.table("t", key_schema="k string", value_schema="cnt long")
    register = {
        "agent": lambda: app.agent("dup", src)(lambda df, ctx: None),
        "flow": lambda: app.flow("dup", src, transform=lambda df: df, sink=print),
        "table_agent": lambda: app.table_agent("dup", src, table)(lambda k, pdf, st: None),
    }
    register[first]()
    kept = app._streams["dup"]
    with pytest.raises(ValueError, match="already registered"):
        register[second]()
    assert app._streams == {"dup": kept}


def test_explicit_available_now_trigger_rejects_memtopic_cap(app, tmp_path):
    """The memtopic maxRecordsPerTrigger + availableNow rejection holds
    for an explicit ``trigger=`` as well as the default, on table agents."""
    src = SourceSpec.memtopic("cap", str(tmp_path / "broker"), partitions=1, maxRecordsPerTrigger="5")
    table = app.table("t", key_schema="key string", value_schema="cnt long")
    app.table_agent("capped", src, table, trigger={"availableNow": True})(lambda k, pdf, st: None)
    with pytest.raises(ValueError, match="availableNow"):
        app.run(await_termination=False)


def test_capped_memtopic_flow_rejected(app, tmp_path):
    """The memtopic maxRecordsPerTrigger + availableNow rejection holds
    for flows too: such a flow used to drain 5 of 50 records and return
    as if it had finished."""
    from callysto_spark.sources.memtopic import produce

    broker = str(tmp_path / "broker")
    produce(broker, "capf", [(None, str(i)) for i in range(50)], n_partitions=1)
    src = SourceSpec.memtopic("capf", broker, partitions=1, maxRecordsPerTrigger="5")
    seen: list[int] = []
    app.flow("capped", src, transform=lambda df: df, sink=lambda b: seen.append(b.count()))
    with pytest.raises(ValueError, match="availableNow"):
        app.run(await_termination=True, timeout=60)
    assert seen == [] and app.queries == []


class _NoSig:
    # accessing __signature__ raises → inspect.signature() fails
    @property
    def __signature__(self):
        raise ValueError("signature unavailable")


def test_foreach_batch_adapter_without_signature_keeps_batch_id():
    """A sink whose signature inspect can't read (C-callables, exotic
    wrappers) is called as Spark's own f(df, batch_id), so it still gets
    the real batch ids — dropping them from an exactly-once wrapper
    would silently void the replay-dedup contract."""
    from callysto_spark.app import _as_foreach_batch

    class TwoArg(_NoSig):
        def __init__(self):
            self.seen = []

        def __call__(self, df, batch_id):
            self.seen.append((df, batch_id))

    two = TwoArg()
    adapted = _as_foreach_batch(two)
    adapted("df", 7)
    adapted("df", 8)
    assert two.seen == [("df", 7), ("df", 8)]


def test_foreach_batch_adapter_c_sink_internal_typeerror_not_retried():
    """A TypeError raised by an uninspectable sink propagates after
    exactly one call: the adapter never retries it with fewer arguments,
    which would re-run a sink's side effects within one batch."""
    from callysto_spark.app import _as_foreach_batch

    class OneArgC(_NoSig, list):
        # a C-level one-argument sink: calling it with (df, batch_id)
        # raises CPython's own arity TypeError; a 1-arg retry would
        # append the df
        __call__ = list.append

    one = OneArgC()
    adapted = _as_foreach_batch(one)
    with pytest.raises(TypeError, match=r"\(2 given\)"):
        adapted("df", 7)
    assert one == [], "the sink was called again after its TypeError"


def test_agent_sink_receives_batch_id_for_exactly_once(spark, tmp_path, sf_dir):
    """The exactly-once wrappers are Callable[[DataFrame, int], None] —
    batch_id is their replay-dedup key. Wiring idempotent(...) as a
    table_agent sink must deliver it (dropping it would TypeError, or
    worse, silently void the idempotency contract)."""
    from callysto_spark.sinks.exactly_once import idempotent

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    out_dir = str(tmp_path / "out")
    marker_dir = str(tmp_path / "markers")
    seen_ids: list[int] = []

    def write(df, batch_id):
        seen_ids.append(batch_id)
        df.write.mode("append").parquet(out_dir)

    a = App("test_eos_sink", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    stream = src.load(spark).withColumn(
        "parity", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd")
    )
    table = a.table("eos_counts", key_schema="parity string", value_schema="cnt long")
    table.output_schema = "parity string, cnt long"

    @a.table_agent("eos_agent", stream, table, sink=idempotent(write, marker_dir))
    def eos_agent(key, pdf, state):
        prev = state.get()
        cnt = (prev[0] if prev else 0) + len(pdf)
        state.set(cnt)
        return pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

    a.run(await_termination=True, timeout=120)
    a.stop()
    assert seen_ids, "sink never invoked"
    markers = sorted(os.listdir(marker_dir))
    assert markers == [f"batch-{i}.done" for i in sorted(set(seen_ids))], (
        "idempotent() must see the real batch ids"
    )
    assert spark.read.parquet(out_dir).count() > 0


def test_memory_sink_stateful_agent_survives_rerun(spark, tmp_path, sf_dir):
    """Stateful agents WITHOUT a sink use the memory format, which
    refuses checkpoint recovery — a persistent checkpointLocation made
    every rerun throw AnalysisException. Reruns must start clean
    instead (the memory sink's documented contract: test surface, no
    durability)."""
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")

    def make_app():
        a = App("test_mem_rerun", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
        src = SourceSpec.parquet_stream(
            str(stream_dir),
            schema="event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        stream = src.load(spark).withColumn(
            "parity", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd")
        )
        table = a.table("mem_counts", key_schema="parity string", value_schema="cnt long")
        table.output_schema = "parity string, cnt long"

        @a.table_agent("mem_agent", stream, table)  # no sink → memory
        def mem_agent(key, pdf, state):
            prev = state.get()
            cnt = (prev[0] if prev else 0) + len(pdf)
            state.set(cnt)
            return pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

        return a

    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    for _ in range(2):  # second run used to die on checkpoint recovery
        a = make_app()
        a.run(await_termination=True, timeout=120)
        got = {
            r["parity"]: r["cnt"]
            for r in spark.sql("SELECT * FROM test_mem_rerun_mem_agent").collect()
        }
        a.stop()
        assert got == {"even": n // 2, "odd": n // 2}, "fresh state each run"


@pytest.mark.parametrize("kind", ["agent", "flow"])
def test_auto_restart_survives_crash_and_run_returns(app, spark, tmp_path, sf_dir, kind):
    """L9 crash-restart, executed end to end, for an agent and for a
    flow: a stream whose foreachBatch raises once must (a) NOT propagate
    out of run(await_termination=True) while supervision is on —
    awaitTermination() re-raises crashed-query exceptions, so an
    unsupervised await would abort the app even as the monitor restarts
    it — and (b) be restarted from its checkpoint so the batch is
    reprocessed and state lands."""
    import shutil

    from callysto_spark.sources import SourceSpec

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    crashes = {"n": 0}

    def flaky(df):
        if crashes["n"] == 0:
            crashes["n"] += 1
            raise RuntimeError("boom (injected once)")
        app.state["rows"] = app.state.get("rows", 0) + df.count()

    if kind == "agent":
        app.agent("flaky", src)(lambda df, ctx: flaky(df))
    else:
        app.flow("flaky", src, transform=lambda df: df, sink=flaky)
    app.enable_auto_restart(poll_seconds=0.2, max_restarts=3)
    app.run(await_termination=True, timeout=120)  # must NOT raise
    assert crashes["n"] == 1
    assert app.state.get("rows", 0) > 0, "restarted stream must reprocess the batch"
    assert app.failures and app.failures[0][0] == "flaky"
    assert "boom" in app.failures[0][1]


def test_auto_restart_slow_start_holds_run_open(app, spark, tmp_path, sf_dir):
    """The supervised-await gating under a SLOW restart: starting a
    streaming query can take multi-second synchronous work inside
    App._start, during which no query is active. run()'s poll loop
    must count an in-flight restart (_restarting > 0) as activity —
    otherwise it concludes 'all idle' past the grace window and returns
    while the replacement query is still being built, tearing down
    around a half-started agent. Injects a 2-second delay into the
    RESTART invocation of App._start (grace is 0.6s) and requires the
    reprocessed batch to have landed by the time run() returns."""
    import shutil
    import time

    from callysto_spark.sources import SourceSpec

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    crashes = {"n": 0}

    @app.agent("slowflaky", src)
    def slowflaky(df, ctx):
        if crashes["n"] == 0:
            crashes["n"] += 1
            raise RuntimeError("boom (injected once)")
        ctx.state["rows"] = ctx.state.get("rows", 0) + df.count()

    real_start = app._start
    starts = {"n": 0}

    def slow_start(stream):
        starts["n"] += 1
        if starts["n"] > 1:  # delay only the restart path, not initial start
            time.sleep(2.0)
        return real_start(stream)

    app._start = slow_start
    app.enable_auto_restart(poll_seconds=0.3, max_restarts=3)
    app.run(await_termination=True, timeout=120)
    assert crashes["n"] == 1
    assert starts["n"] >= 2, "monitor never attempted the restart"
    assert app.state.get("rows", 0) > 0, (
        "run() returned before the delayed restart delivered the batch — "
        "the in-flight-restart gate failed"
    )


def test_enable_auto_restart_idempotent(app):
    """Calling enable_auto_restart twice must not spawn a second
    monitor thread: duplicate monitors race on the same crashed query
    (double-restart) and keep separate restart budgets, and their
    unlocked interleavings are exactly the lost-count hazard the
    restart lock exists to prevent."""
    n0 = len(app._threads)
    app.enable_auto_restart(poll_seconds=0.5)
    app.enable_auto_restart(poll_seconds=0.5)
    assert len(app._threads) == n0 + 1, "second call must be a no-op"
    assert app._supervised


def test_stop_agent_wins_over_restart_and_rearms(app, spark, tmp_path, sf_dir):
    """A stop_agent() racing a crash must not be resurrected by the
    monitor (_stopped_agents is checked before restart), and an explicit
    run_agent() re-arms supervision for that agent."""
    import shutil

    from callysto_spark.sources import SourceSpec

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )

    @app.agent("once", src)
    def once(df, ctx):
        ctx.state["rows"] = ctx.state.get("rows", 0) + df.count()

    app.run(await_termination=True, timeout=120)
    app.stop_agent("once")
    assert "once" in app._stopped_agents
    app.run_agent("once")  # explicit start re-arms
    assert "once" not in app._stopped_agents
    app.stop_agent("once")
    app.stop_agent("once")  # idempotent: second stop must not raise


def test_aggregating_flow_update_mode(app, spark, tmp_path, sf_dir):
    """A flow whose transform contains a streaming aggregation needs
    output_mode='update' — append mode rejects unwatermarked streaming
    aggs at start, so the declarative flow surface must expose the knob."""
    import shutil

    from pyspark.sql import functions as F

    from callysto_spark.sources import SourceSpec

    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    src = SourceSpec.parquet_stream(
        str(stream_dir),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    seen: list = []
    app.flow(
        "counts",
        src,
        transform=lambda df: df.groupBy("event_type").agg(F.count("*").alias("n")),
        sink=lambda batch: seen.append(batch.count()),
        output_mode="update",
    )
    app.run(await_termination=True, timeout=120)
    assert seen and seen[0] > 0


def test_ctable_key_cols_parse_ddl_brackets_and_backticks(spark):
    """Key columns come from Spark's DDL parser: a split on every comma
    broke decimal(p,s), map/struct types and quoted names, and the bucket
    hash is built from these."""
    from callysto_spark.streaming.state import CTable

    assert CTable("t", "k decimal(10,2), t string", "cnt long").key_cols == ["k", "t"]
    assert CTable("t", "`a,b` string, `c``d` long, m map<string,int>", "cnt long").key_cols == [
        "a,b",
        "c`d",
        "m",
    ]
    assert CTable("t", "x: int, y struct<p:int,q:string> COMMENT 'p, q'", "c long").key_cols == ["x", "y"]


def test_table_agent_one_call_per_key_null_key_and_restart(spark, tmp_path):
    """Bucketed table agent, end to end on RocksDB state: with Arrow
    batches of 3 rows, a key's 7 rows still reach the closure in ONE
    call; a NULL key is its own key; two long keys that share the NULL
    key's bucket and round to one float64 value keep separate counts; and
    every count continues across an App restart."""
    providers = "spark.sql.streaming.stateStore.providerClass"
    arrow_batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = {k: spark.conf.get(k, None) for k in (providers, arrow_batch)}
    null_bucket = spark.sql("SELECT pmod(xxhash64(CAST(NULL AS BIGINT)), 256) AS b").first()["b"]
    # two longs above 2**62 that are one float64 value and hash to that bucket
    big = sorted(
        spark.range(1 << 16)
        .selectExpr("id + 4611686018427387904 AS k")
        .where(f"pmod(xxhash64(k), 256) = {null_bucket}")
        .groupBy(F.col("k").cast("double"))
        .agg(F.collect_list("k").alias("ks"))
        .where(F.size("ks") >= 2)
        .first()["ks"]
    )[:2]
    assert len(big) == 2

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    out_dir = str(tmp_path / "out")

    def put(name, keys):
        pd.DataFrame({"k": pd.array(keys, dtype="Int64"), "v": range(len(keys))}).to_parquet(
            stream_dir / name
        )

    def make_app():
        a = App(
            "bucket_sem",
            spark=spark,
            checkpoint_root=str(tmp_path / "ckpt"),
            state_store="rocksdb",
        )
        stream = SourceSpec.parquet_stream(str(stream_dir), schema="k long, v long").load(spark)
        table = a.table("counts", key_schema="k long", value_schema="cnt long")
        table.output_schema = "k long, n long, cnt long"

        @a.table_agent(
            "counter", stream, table, sink=lambda b: b.write.mode("append").parquet(out_dir)
        )
        def counter(key, pdf, state):
            cnt = (state.get() or (0,))[0] + len(pdf)
            state.set(cnt)
            return pd.DataFrame({"k": [key[0]], "n": [len(pdf)], "cnt": [cnt]})

        return a

    def run():
        a = make_app()
        a.run(await_termination=True, timeout=120)
        a.stop()
        return {(r["k"], r["n"], r["cnt"]) for r in spark.read.parquet(out_dir).collect()}

    try:
        spark.conf.set(arrow_batch, "3")
        put("a.parquet", [7] * 7 + [None, None, 1, big[0], big[1], big[1]])
        first = run()
        assert first == {(7, 7, 7), (None, 2, 2), (1, 1, 1), (big[0], 1, 1), (big[1], 2, 2)}

        put("b.parquet", [7, 7, None, big[0]])
        second = run() - first
        assert second == {(7, 2, 9), (None, 1, 3), (big[0], 1, 2)}
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_table_agent_nan_and_null_double_keys_stay_apart(spark, tmp_path):
    """A double key column: NULL and NaN are two keys (pandas shows both
    as NaN), -0.0 and 0.0 are one (as in Spark's groupBy), and the NaN
    key's count continues across an App restart."""
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    out_dir = str(tmp_path / "out")
    nan = float("nan")

    def put(name, keys):  # pyarrow keeps None a NULL double and nan a NaN value
        table = pa.table({"d": pa.array(keys, pa.float64()), "v": pa.array(range(len(keys)), pa.int64())})
        pq.write_table(table, stream_dir / name)

    def run():
        a = App("nan_keys", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
        stream = SourceSpec.parquet_stream(str(stream_dir), schema="d double, v long").load(spark)
        table = a.table("counts", key_schema="d double", value_schema="cnt long")
        table.output_schema = "d double, null_key boolean, n long, cnt long"

        @a.table_agent("counter", stream, table, sink=lambda b: b.write.mode("append").parquet(out_dir))
        def counter(key, pdf, state):
            cnt = (state.get() or (0,))[0] + len(pdf)
            state.set(cnt)
            return pd.DataFrame({"d": [key[0]], "null_key": [key[0] is None], "n": [len(pdf)], "cnt": [cnt]})

        a.run(await_termination=True, timeout=120)
        a.stop()
        out = spark.read.parquet(out_dir).toPandas()
        return {
            ("null" if r.null_key else repr(abs(r.d)), r.n, r.cnt) for r in out.itertuples()
        }

    put("a.parquet", [1.5, None, nan, nan, -0.0, 0.0])
    first = run()
    assert first == {("1.5", 1, 1), ("null", 1, 1), ("nan", 2, 2), ("0.0", 2, 2)}

    put("b.parquet", [nan, None, 0.0])
    assert run() - first == {("nan", 1, 3), ("null", 1, 2), ("0.0", 1, 3)}


def test_table_agent_checkpoint_format_is_pinned(spark, tmp_path, sf_dir):
    """The checkpoint format: one FlatMapGroupsInPandasWithState grouped
    on the single ``__bucket`` column with a binary state value. A
    checkpoint written by a plain per-key applyInPandasWithState on the
    table's value schema must be REFUSED on resume by Spark's
    state-schema check, never silently restarted from empty state."""
    from pyspark.errors import StreamingQueryException

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "a.parquet")
    ckpt_root = str(tmp_path / "ckpt")

    def stream():
        src = SourceSpec.parquet_stream(
            str(stream_dir),
            schema="event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        return src.load(spark).withColumn(
            "parity", F.when(F.col("event_id") % 2 == 0, "even").otherwise("odd")
        )

    def parity_agent(key, pdf, state):
        cnt = (state.get() or (0,))[0] + len(pdf)
        state.set(cnt)
        return pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

    def noop(b):
        b.write.format("noop").mode("overwrite").save()

    def make_app(root):
        a = App("fmt", spark=spark, checkpoint_root=root)
        table = a.table("parity_counts", key_schema="parity string", value_schema="cnt long")
        table.output_schema = "parity string, cnt long"
        a.table_agent("parity_agent", stream(), table, sink=noop)(parity_agent)
        return a

    a = make_app(str(tmp_path / "fresh"))
    a.run(await_termination=True, timeout=120)
    plan = a.queries[0]._jsq.explainInternal(False)
    a.stop()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert re.search(
        r"FlatMapGroupsInPandasWithState \w+\(.*?\)#\d+, \[__bucket#\d+\], \[.*?\], "
        r"\[StructField\(bucket,BinaryType,true\)\]",
        plan,
    ), plan

    # a per-key checkpoint at the agent's location ...
    def per_key(key, pdfs, state):
        cnt = state.getOption[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"parity": [key[0]], "cnt": [cnt]})

    q = (
        stream()
        .groupBy("parity")
        .applyInPandasWithState(per_key, "parity string, cnt long", "cnt long", "update", "NoTimeout")
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _: noop(b))
        .option("checkpointLocation", f"{ckpt_root}/parity_agent")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    # ... is refused when the bucketed table agent resumes it
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "b.parquet")
    a = make_app(ckpt_root)
    try:
        with pytest.raises(StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
            a.run(await_termination=True, timeout=120)
    finally:
        a.stop()
