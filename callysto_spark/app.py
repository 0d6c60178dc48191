"""The framework surface: a Faust/Callysto-shaped app on Structured
Streaming.

Parity map (reference → here), per SURVEY.md §2:
- agents, table agents and flows (reference `app.rs:284-359`,
  `types/agent.rs`, `types/table_agent.rs`, `types/flows.rs`) are one
  stream record here: source → transform → sink, started as one
  Structured Streaming query with a checkpoint, in one name space.
  :meth:`App.agent`'s closure is the ``foreachBatch`` sink and gets each
  micro-batch as a DataFrame; :meth:`App.table_agent`'s transform binds
  the closure to an :meth:`App.table` through GroupState (one group per
  hash bucket of keys, see callysto_spark.streaming.state);
  :meth:`App.flow` is a declarative transform + sink. No sink means a
  memory sink (test surface, no recovery). Durability is the
  checkpoint's, not a changelog topic's (reference `runtime/recovery.rs`).
- `app.task` / `app.timer` (`app.rs:243-271`) → driver threads.
- `app.run()` (`app.rs:644-880`) → start all queries + await.
- app-wide shared state (`app.rs:103-107`: instance-local, not
  distributed) → :class:`Context.state`, a driver-local dict.

Agent options are keyword-only parameters (``trigger``; ``timeout``,
``sink``, ``trigger`` on table agents), so a misspelt or unknown option
raises TypeError when the agent is registered instead of being dropped.

The exactly-once enum the reference leaves ``todo!()``
(`types/table.rs:149-159`) is inherited from Spark: checkpoint +
idempotent sink gives end-to-end exactly-once per query.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from callysto_spark.config import state_store_conf
from callysto_spark.session import get_spark
from callysto_spark.sources import SourceSpec


def _as_foreach_batch(sink: Callable) -> Callable[[DataFrame, int], None]:
    """Adapt a user sink to Spark's ``foreachBatch(df, batch_id)`` shape.

    Sinks come in two arities: plain ``f(df)`` writers and
    ``f(df, batch_id)`` writers (the exactly-once wrappers in
    sinks/exactly_once.py NEED the batch id — it is their replay-dedup
    key, so dropping it would silently void the idempotency contract).
    Inspect once at wiring time, not per batch. A sink whose signature
    ``inspect`` cannot read is called as Spark's own ``f(df, batch_id)``."""
    import inspect

    try:
        params = list(inspect.signature(sink).parameters.values())
    except (TypeError, ValueError):  # builtins/C-callables without signatures
        return sink
    positional = [
        p for p in params
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    takes_id = len(positional) >= 2 or any(
        p.kind == p.VAR_POSITIONAL for p in params
    )
    return (lambda b, i: sink(b, i)) if takes_id else (lambda b, i: sink(b))


def _identifier(name: str) -> str:
    """Sanitize a name into a valid SQL view/query identifier."""
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", name)


@dataclass
class Context:
    """Per-closure context: app-wide driver-local state + batch metadata.

    ``commit()`` is a no-op by design: offset tracking is the
    checkpoint's job (reference exposes manual commit,
    `types/context.rs:70-94`; Spark's checkpoint subsumes it — documented
    delta, not a gap).
    """

    app: "App"
    agent_name: str
    batch_id: int = -1

    @property
    def state(self) -> dict[str, Any]:
        return self.app.state

    def commit(self, *_args, **_kw) -> None:  # parity shim
        return None


@dataclass
class _Stream:
    """A registered agent, table agent or flow: ``source`` →
    ``transform`` → ``sink``. ``sink`` is a ``(df, batch_id)`` writer;
    ``None`` sends the results to the memory sink ``memory_name``.
    ``kind`` ("agent" or "flow") only labels it on the ops page."""

    name: str
    source: SourceSpec
    transform: Callable[[DataFrame], DataFrame]
    sink: Callable[[DataFrame, int], Any] | None
    memory_name: str | None = None
    output_mode: str = "append"
    trigger: dict[str, Any] | None = None  # None → {"availableNow": True}
    kind: str = "agent"


class App:
    """A Callysto-shaped streaming application on PySpark."""

    def __init__(
        self,
        name: str,
        spark: SparkSession | None = None,
        checkpoint_root: str | None = None,
        state_store: str | None = None,
    ) -> None:
        """``state_store``: ``"rocksdb"``, ``"hdfs"`` or ``None`` (leave
        the session's provider as it is); see ``config.state_store_conf``."""
        store_conf = state_store_conf(state_store) if state_store is not None else {}
        self.name = name
        self.spark = spark or get_spark(app_name=name)
        for k, v in store_conf.items():
            self.spark.conf.set(k, v)
        self.checkpoint_root = checkpoint_root or f"/tmp/callysto_spark/{name}/checkpoints"
        self.state: dict[str, Any] = {}
        self._streams: dict[str, _Stream] = {}
        self._tables: dict[str, Any] = {}
        self._tasks: list[Callable[[Context], Any]] = []
        self._timers: list[tuple[float, Callable[[Context], Any]]] = []
        self._services: list[tuple[Callable[[Context, threading.Event], Any], list[Callable]]] = []
        self._service_start_order: list[str] = []
        self._queries: list[Any] = []
        self._query_owner: dict[str, str] = {}  # query id → stream name
        self._failures: list[tuple[str | None, str]] = []  # (owner, exception text)
        # streams the user stopped explicitly — the supervision monitor must
        # never resurrect these, even if the stop raced a crash
        self._stopped_agents: set[str] = set()
        self._supervised = False  # set by enable_auto_restart
        self._supervision_poll = 2.0
        # >0 while the monitor is mid-restart: the supervised await must
        # treat "failure detected, restart in flight" as ACTIVE — a
        # multi-second query start() can outlast the idle grace window.
        # The lock makes [stop-event check → increment] atomic against
        # stop(), which barriers on it — without it a monitor thread
        # could pass the check, lose the CPU, and start an orphan query
        # after stop() finished clearing the list.
        self._restarting = 0
        self._restart_lock = threading.Lock()
        # ephemeral memory-sink checkpoints (mkdtemp) — removed in stop()
        self._ephemeral_dirs: list[str] = []
        self._threads: list[threading.Thread] = []
        self._pages: dict[str, Callable[[], Any]] = {}
        self._web: Any = None
        self.web_port: int | None = None
        self._stop_event = threading.Event()

    # ------------------------------------------------------------- sources
    def topic(self, name: str, **kafka_options: str) -> SourceSpec:
        """Kafka topic source descriptor (reference `kafka/ctopic.rs`)."""
        return SourceSpec.kafka(name, **kafka_options)

    def source(self, spec_or_df: SourceSpec | DataFrame) -> SourceSpec:
        """Lift any source (descriptor or ready DataFrame — batch or
        streaming) into the app, as the reference lifts any
        ``futures::Stream`` (`types/flows.rs:17-79`)."""
        if isinstance(spec_or_df, SourceSpec):
            return spec_or_df
        return SourceSpec.dataframe(spec_or_df)

    # ------------------------------------------------------------ register
    def _add(self, stream: _Stream) -> None:
        if stream.name in self._streams:
            raise ValueError(
                f"a stream named {stream.name!r} is already registered; agents, "
                "table agents and flows share one name space (one checkpoint "
                "directory and query name per name)"
            )
        self._streams[stream.name] = stream

    def agent(
        self,
        name: str,
        source: SourceSpec | DataFrame,
        *,
        trigger: dict[str, Any] | None = None,
    ):
        """Register a stream processor; closure gets (micro-batch DataFrame,
        Context) — the DataFrame replaces the reference's per-message
        ``CStream`` pull loop. ``trigger`` is passed to
        ``DataStreamWriter.trigger`` (default ``{"availableNow": True}``)."""

        def deco(fn: Callable[[DataFrame, Context], Any]):
            ctx = Context(self, name)

            def process(batch_df: DataFrame, batch_id: int) -> None:
                ctx.batch_id = batch_id
                fn(batch_df, ctx)

            self._add(_Stream(name, self.source(source), lambda df: df, process, trigger=trigger))
            return fn

        return deco

    def flow(
        self,
        name: str,
        source: SourceSpec | DataFrame,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        sink: Callable[[DataFrame], Any] | None = None,
        collect_to: str | None = None,
        output_mode: str = "append",
    ):
        """Register a declarative transform over a source. ``collect_to``
        routes results to an in-memory sink (query name = view name) when
        there is no ``sink``; with neither, results are dropped.
        ``output_mode``: a flow whose transform contains a streaming
        aggregation needs ``"update"`` or ``"complete"`` — append mode
        rejects unwatermarked streaming aggs at start."""

        if sink is not None:
            writer = _as_foreach_batch(sink)
        else:  # collect_to → memory sink; neither → results are dropped
            writer = None if collect_to else (lambda b, i: None)

        def deco(fn: Callable[[DataFrame], DataFrame]):
            self._add(
                _Stream(name, self.source(source), fn, writer, collect_to, output_mode, kind="flow")
            )
            return fn

        if transform is not None:
            return deco(transform)
        return deco

    def table(self, name: str, key_schema: str, value_schema: str):
        """Changelog-backed distributed KV table → Spark keyed state.

        Returns a :class:`callysto_spark.streaming.state.CTable` builder;
        attach it to a table_agent. Recovery is the checkpoint's job.
        """
        from callysto_spark.streaming.state import CTable

        tbl = CTable(name=name, key_schema=key_schema, value_schema=value_schema)
        self._tables[name] = tbl
        return tbl

    def table_agent(
        self,
        name: str,
        source: SourceSpec | DataFrame,
        table,
        *,
        timeout: str = "NoTimeout",
        sink: Callable | None = None,
        trigger: dict[str, Any] | None = None,
    ):
        """Register a keyed-state processor (reference `types/table_agent.rs`):
        closure runs per key with get/set/del on the table's state.

        Bound through GroupState (streaming/state.py): grouped physically
        by hash bucket of keys, it calls the closure once per key and
        micro-batch with all of the key's rows. ``timeout`` is a
        GroupState timeout mode (``"NoTimeout"``,
        ``"ProcessingTimeTimeout"``, ``"EventTimeTimeout"``); ``sink`` is a
        durable ``f(df)`` / ``f(df, batch_id)`` writer — without one the
        results go to a memory sink with an ephemeral checkpoint;
        ``trigger`` is as for :meth:`agent`.
        """

        def deco(fn):
            from callysto_spark.streaming.state import bind_table_agent

            self._add(
                _Stream(
                    name,
                    self.source(source),
                    bind_table_agent(table, fn, timeout=timeout),
                    _as_foreach_batch(sink) if sink is not None else None,
                    _identifier(f"{self.name}_{name}"),
                    "update",  # bind_table_agent emits update-mode output only
                    trigger,
                )
            )
            return fn

        return deco

    def page(self, slug: str):
        """Register an ops HTTP page (reference `app.rs:416-430`); the
        web server starts with :meth:`run` when any page is registered
        (reference starts it iff routes exist, `app.rs:594-619`)."""

        def deco(fn: Callable[[], Any]):
            self._pages[slug] = fn
            return fn

        return deco

    def task(self, fn: Callable[[Context], Any]):
        """One-shot startup task (reference `types/task.rs:21-86`)."""
        self._tasks.append(fn)
        return fn

    def timer(self, interval: float):
        """Fixed-interval repeating task (reference `types/timer.rs:23-80`)."""

        def deco(fn: Callable[[Context], Any]):
            self._timers.append((interval, fn))
            return fn

        return deco

    def service(self, fn: Callable[[Context, threading.Event], Any] | None = None, *, deps: list[Callable] | None = None):
        """Long-running service w/ stop signal (reference `types/service.rs`).

        ``deps`` lists other registered service callables that must be
        started first (reference starts a service's dependencies before
        the service itself, `types/service.rs:146-151`). Start order is
        a topological sort; registration order breaks ties.
        """
        if fn is not None:
            self._services.append((fn, list(deps or [])))
            return fn

        def deco(f: Callable[[Context, threading.Event], Any]):
            self._services.append((f, list(deps or [])))
            return f

        return deco

    def _ordered_services(self) -> list[Callable[[Context, threading.Event], Any]]:
        """Dependency-first ordering of registered services (DFS topo
        sort, cycle-safe: a cycle falls back to registration order for
        the already-visiting node rather than recursing forever)."""
        deps_of = {fn: deps for fn, deps in self._services}
        ordered: list[Callable] = []
        visiting: set[Any] = set()

        def visit(fn) -> None:
            if fn in ordered or fn in visiting:
                return
            visiting.add(fn)
            for d in deps_of.get(fn, []):
                if d in deps_of:
                    visit(d)
            visiting.discard(fn)
            ordered.append(fn)

        for fn, _ in self._services:
            visit(fn)
        return ordered

    # ----------------------------------------------------------------- run
    def _start(self, stream: _Stream) -> None:
        """Start one stream. A batch source gets one pass (reference flow
        example with stream::iter): the sink is called with batch id -1,
        or the result becomes the temp view ``memory_name``. A streaming
        source becomes one query."""
        # Python DataSource streams fall back to single-batch availableNow,
        # so a per-trigger admission cap would silently leave backlog
        # unprocessed when the one batch "drains": reject the combination.
        trigger = {"availableNow": True} if stream.trigger is None else stream.trigger
        has_cap = any(k.lower() == "maxrecordspertrigger" for k in stream.source.options)
        if trigger.get("availableNow") and stream.source.kind == "memtopic" and has_cap:
            raise ValueError(
                f"stream {stream.name!r}: maxRecordsPerTrigger on a memtopic source is "
                "incompatible with the availableNow trigger (Python DataSource "
                "streams run availableNow as a SINGLE batch, so the cap truncates "
                "the drain). Use trigger={'processingTime': '...'} with the cap, "
                "or drop maxRecordsPerTrigger to drain fully."
            )
        df = stream.transform(stream.source.load(self.spark))
        if not df.isStreaming:
            if stream.sink is not None:
                stream.sink(df, -1)
            else:
                df.createOrReplaceTempView(stream.memory_name)
            return
        writer = df.writeStream.outputMode(stream.output_mode)
        if stream.sink is not None:
            # durable sink → checkpoint recovery works across restarts
            writer = writer.foreachBatch(stream.sink)
            qname = _identifier(f"{self.name}_{stream.name}")
            ckpt = f"{self.checkpoint_root}/{stream.name}"
        else:
            # memory sink: test convenience only. Spark memory sinks
            # (append/update mode) REFUSE checkpoint recovery, so a
            # persistent location would make every rerun/auto-restart
            # throw AnalysisException — use an ephemeral one instead
            # (state starts fresh; that is the memory sink's contract).
            writer = writer.format("memory")
            qname = stream.memory_name
            ckpt = tempfile.mkdtemp(prefix=f"callysto_mem_{stream.name}_")
            self._ephemeral_dirs.append(ckpt)
        q = writer.queryName(qname).option("checkpointLocation", ckpt).trigger(**trigger).start()
        # Track query → owning stream by query id, so supervision and
        # stop_agent never depend on name matching (foreachBatch queries
        # historically had name=None — the silent-failure bug).
        self._queries.append(q)
        self._query_owner[str(q.id)] = stream.name

    def run(self, await_termination: bool = True, timeout: float | None = None) -> None:
        """Start everything (reference start order, `app.rs:644-880`):
        services first, then streams (agents, table agents and flows, in
        registration order), then tasks, then timers."""
        ctx = Context(self, "__app__")
        if self._pages and self._web is None:
            from callysto_spark.runtime.web import OpsServer

            self._web = OpsServer(self, port=int(os.environ.get("CALLYSTO_WEB_PORT", "0")))
            for slug, fn in self._pages.items():
                self._web.page(slug, fn)
            self._web.start()
            self.web_port = self._web.port
        for svc in self._ordered_services():
            self._service_start_order.append(getattr(svc, "__name__", repr(svc)))
            t = threading.Thread(target=svc, args=(ctx, self._stop_event), daemon=True)
            t.start()
            self._threads.append(t)
        for stream in self._streams.values():
            self._start(stream)
        for task in self._tasks:
            task(ctx)
        for interval, fn in self._timers:

            def loop(interval=interval, fn=fn):
                while not self._stop_event.wait(interval):
                    fn(ctx)

            t = threading.Thread(target=loop, daemon=True)
            t.start()
            self._threads.append(t)
        if await_termination:
            deadline = time.time() + timeout if timeout else None
            if self._supervised:
                # Supervised await: awaitTermination() RE-RAISES a crashed
                # query's exception, which would abort run() even though the
                # monitor restarts the agent — and the restarted query (a
                # new object appended after the snapshot) would never be
                # awaited. Poll the live set instead: exceptions stay the
                # monitor's to handle, and the loop ends only when the set
                # stays idle past one monitor cycle (a crash's restart
                # lands within poll_seconds) or the deadline passes.
                grace = self._supervision_poll * 2
                idle_since: float | None = None
                while True:
                    if deadline is not None and time.time() >= deadline:
                        break
                    # a restart in flight counts as active: the monitor
                    # flags it before start() so the grace window bounds
                    # crash DETECTION + the restart itself, not just
                    # detection (see enable_auto_restart)
                    if self._restarting > 0 or any(q.isActive for q in list(self._queries)):
                        idle_since = None
                    elif idle_since is None:
                        idle_since = time.time()
                    elif time.time() - idle_since >= grace:
                        break
                    time.sleep(min(0.25, self._supervision_poll))
            else:
                # snapshot: stop()/stop_agent may mutate self._queries
                for q in list(self._queries):
                    if deadline is None:
                        q.awaitTermination()
                        continue
                    remaining = deadline - time.time()
                    if remaining <= 0:
                        break  # deadline expired while awaiting earlier queries
                    # pyspark rejects non-positive timeouts, hence the guard
                    q.awaitTermination(remaining)

    def enable_auto_restart(self, poll_seconds: float = 2.0, max_restarts: int = 3) -> None:
        """Crash-restart supervision (reference service state machine
        `types/service.rs:24-93`: Crashed → Restarting via the outer
        'fallback loop). A monitor thread polls query exceptions and
        restarts the owning agent from its checkpoint, up to
        ``max_restarts`` per agent.

        Idempotent: a second call is a no-op rather than a second
        monitor thread — duplicate monitors would race each other on
        the same crashed query (double-restart) and keep separate
        restart budgets."""
        if self._supervised:
            return
        restarts: dict[str, int] = {}
        self._supervised = True
        self._supervision_poll = poll_seconds

        import logging

        log = logging.getLogger("callysto_spark.app")

        def monitor() -> None:
            while not self._stop_event.wait(poll_seconds):
                for q in list(self._queries):
                    try:
                        exc = q.exception()
                    except Exception:
                        continue
                    if exc is None:
                        continue
                    # Ownership by query id — never by name matching
                    # (foreachBatch queries without an explicit queryName
                    # report name=None, which used to swallow failures).
                    name = self._query_owner.pop(str(q.id), None)
                    try:
                        self._queries.remove(q)
                    except ValueError:
                        pass  # stop()/stop_agent removed it concurrently
                    self._failures.append((name, str(exc)))
                    if name is None or name not in self._streams:
                        log.error("query %s failed with no restartable owner: %s", q.id, exc)
                        continue
                    if name in self._stopped_agents:
                        # the user stopped this agent (possibly racing the
                        # crash) — honoring the stop beats resurrecting
                        log.info("stream %r crashed but was stopped; not restarting", name)
                        continue
                    # Atomically [check stop → mark restart in flight]:
                    # stop() sets the event and then barriers on this
                    # lock, so after its barrier every monitor thread
                    # has either registered in _restarting (stop waits
                    # it out) or will observe the event and skip —
                    # restarting now can never resurrect a query after
                    # stop() cleared the list (which would collide with
                    # a same-named query when the caller builds a fresh
                    # App on the same session, as restart-cycle tests do)
                    with self._restart_lock:
                        if self._stop_event.is_set():
                            continue
                        if restarts.get(name, 0) >= max_restarts:
                            log.error(
                                "stream %r exceeded max_restarts=%d: %s", name, max_restarts, exc
                            )
                            continue
                        restarts[name] = restarts.get(name, 0) + 1
                        # mark the restart in flight BEFORE starting: a
                        # streaming query start() can take seconds, and
                        # the supervised await must not conclude "all
                        # idle" while the replacement query is being built
                        self._restarting += 1
                    try:
                        self._start(self._streams[name])
                    except Exception:
                        log.exception("restart of stream %r failed", name)
                    finally:
                        # under the lock: a bare `-= 1` read-modify-write
                        # can interleave with another thread's locked
                        # `+= 1` and lose a count, letting stop() finish
                        # its wait while a restart is still in flight
                        with self._restart_lock:
                            self._restarting -= 1

        t = threading.Thread(target=monitor, daemon=True)
        t.start()
        self._threads.append(t)

    def run_agent(self, name: str) -> None:
        """Start a single registered agent, table agent or flow at
        runtime, outside :meth:`run`'s bookkeeping (reference dynamic spawn,
        `app.rs:626-640` / the `onthefly` feature `app.rs:766-864`)."""
        self._stopped_agents.discard(name)  # explicit start re-arms supervision
        self._start(self._streams[name])

    def stop_agent(self, name: str) -> None:
        """Stop the streaming query backing a stream (runtime query
        management — ownership tracked by query id, not name).
        Marks the stream stopped FIRST so a crash racing this call can
        never be resurrected by the supervision monitor."""
        self._stopped_agents.add(name)
        for q in list(self._queries):
            if self._query_owner.get(str(q.id)) == name:
                q.stop()
                try:
                    self._queries.remove(q)
                except ValueError:
                    pass  # the monitor removed it concurrently
                self._query_owner.pop(str(q.id), None)

    @property
    def failures(self) -> list[tuple[str | None, str]]:
        """(owner, exception) pairs observed by the supervision monitor —
        surfaced instead of silently dropped."""
        return list(self._failures)

    def stop(self) -> None:
        self._stop_event.set()
        if self._web is not None:
            self._web.stop()
            self._web = None
        # A restart already in flight when the event was set would
        # otherwise register its new query AFTER the loop below cleared
        # the list — leaving an orphan active query that collides with
        # the next same-named start. Barrier on the restart lock (any
        # monitor thread between its stop-event check and its
        # _restarting increment finishes that atomic step first), then
        # wait out registered restarts (bounded), THEN snapshot.
        with self._restart_lock:
            pass
        deadline = time.time() + 30
        while self._restarting > 0 and time.time() < deadline:
            time.sleep(0.05)
        # snapshot: the supervision monitor mutates self._queries
        for q in list(self._queries):
            try:
                q.stop()
            except Exception:
                pass
        self._queries.clear()
        # ephemeral memory-sink checkpoints would otherwise leak one
        # temp dir (plus Spark checkpoint contents) per run
        import shutil

        for d in self._ephemeral_dirs:
            shutil.rmtree(d, ignore_errors=True)
        self._ephemeral_dirs.clear()

    # ------------------------------------------------------------- queries
    @property
    def queries(self) -> list[Any]:
        return list(self._queries)

    def progress(self) -> list[dict]:
        """Per-query progress (reference consumer statistics,
        `kafka/contexts.rs:31-56` → `StreamingQueryProgress`)."""
        out = []
        for q in self._queries:
            p = q.lastProgress
            if p:
                out.append(p)
        return out
