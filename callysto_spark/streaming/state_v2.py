"""CTable on Spark 4's transformWithState (the successor stateful API).

`streaming/state.py` binds tables via GroupState — one opaque state
value per hash bucket of keys.  This module binds the
SAME user-closure contract to ``transformWithStateInPandas``
(StatefulProcessor), which maps the reference's table surface more
faithfully:

- named state variables per processor (`handle.getValueState(name, …)`)
  ↔ the reference's multiple named CTables per agent
  (`types/table_agent.rs:26-103` takes a `Tables` map);
- first-class timers (`registerTimer`) ↔ the TTL/eviction surface;
- native TTL per state (`ttlDurationMs`) — state GC without timers;
- requires the RocksDB state-store provider (config.StateStoreConfig),
  i.e. the at-scale store is the default here, not an option.

The user closure keeps the `(key, pandas-batch, TableState)` shape, so
an agent written against the v1 binding runs unchanged on v2 via
``App.table_agent(..., api="tws")``.

Environment gate (TERMINAL for this image): executing (not building) a
transformWithState plan needs ``google.protobuf`` — the runner speaks
a protobuf state-server protocol via the generated
``pyspark/sql/streaming/proto/StateMessage_pb2.py``, which requires the
full protobuf runtime. The image ships no protobuf wheel, pip has no
network, and vendoring the multi-thousand-line runtime is out of scope,
so the gate cannot be lifted here. Everything runner-independent IS
covered runner-less (plan building + timeMode, processor init/TTL
wiring, input handling, timer arming/firing order, TTL eviction
semantics, state-value schema encoding round-trip — tests/test_app.py);
the GroupState binding (`streaming/state.py`) remains the
dependency-free default and carries the execution parity tests.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, Iterator

import pandas as pd

from callysto_spark.streaming.state import CTable


class TableStateV2:
    """get/set/del parity shim over a named ValueState + timers
    (same contract as streaming.state.TableState; reference
    `types/table.rs:81-113`)."""

    def __init__(
        self,
        vs: Any,
        handle: Any,
        timer_values: Any,
        timed_out: bool = False,
        time_mode: str = "ProcessingTime",
    ) -> None:
        self._vs = vs
        self._h = handle
        self._tv = timer_values
        self._timed_out = timed_out
        self._time_mode = time_mode

    def get(self) -> tuple | None:
        if not self._vs.exists():
            return None
        return tuple(self._vs.get())

    def set(self, *values: Any) -> None:
        self._vs.update(tuple(values))

    def delete(self) -> None:
        self._vs.clear()

    @property
    def exists(self) -> bool:
        return bool(self._vs.exists())

    @property
    def timed_out(self) -> bool:
        return self._timed_out

    def set_timeout_ms(self, ms: int) -> None:
        """Arm a processing-time timer ``ms`` from now (requires the
        agent registered with timeout='ProcessingTimeTimeout'),
        REPLACING any pending timer for the key."""
        # v1 parity: GroupState.setTimeoutDuration raises outside
        # ProcessingTimeTimeout. Arming wall-clock-now+ms under an
        # EventTime processor silently mixes time domains — expiry is
        # driven by the WATERMARK there, so with historical event
        # timestamps (watermark << wall clock) the timer never fires
        # and state never evicts. Fail fast like v1 instead.
        if self._time_mode != "ProcessingTime":
            raise RuntimeError(
                "set_timeout_ms requires timeout='ProcessingTimeTimeout' "
                f"(this agent runs in {self._time_mode!r} time mode); use "
                "set_timeout_timestamp_ms with an event-time timestamp"
            )
        self._arm(self._tv.getCurrentProcessingTimeInMs() + ms)

    def set_timeout_timestamp_ms(self, epoch_ms: int) -> None:
        """Arm an event-time timer (requires timeout='EventTimeTimeout'
        and a watermark on the stream) — v1 GroupState parity."""
        if self._time_mode != "EventTime":
            raise RuntimeError(
                "set_timeout_timestamp_ms requires timeout='EventTimeTimeout' "
                f"(this agent runs in {self._time_mode!r} time mode)"
            )
        self._arm(epoch_ms)

    def _arm(self, at_ms: int) -> None:
        # GroupState.setTimeoutDuration REPLACES the pending timeout, and
        # the v1/v2 closure contract promises that parity — but tws
        # registerTimer ACCUMULATES, so a closure re-arming every batch
        # would stack N timers and fire N eviction callbacks. Clear the
        # key's pending timers first.
        for t in list(self._h.listTimers()):
            self._h.deleteTimer(t)
        self._h.registerTimer(at_ms)


def bind_table_processor(
    table: CTable,
    fn: Callable[[tuple, pd.DataFrame, TableStateV2], pd.DataFrame | None],
    timeout: str = "NoTimeout",
    ttl_ms: int | None = None,
):
    """Bind a user closure to a table via transformWithStateInPandas.

    ``timeout`` mirrors the v1 strings ('NoTimeout' |
    'ProcessingTimeTimeout' | 'EventTimeTimeout') and selects the
    processor's timeMode. ``ttl_ms`` enables native per-state TTL.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    time_mode = {
        "NoTimeout": "None",
        "ProcessingTimeTimeout": "ProcessingTime",
        "EventTimeTimeout": "EventTime",
    }[timeout]

    class _Processor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            self._vs = handle.getValueState(table.name, table.value_schema, ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            ts = TableStateV2(self._vs, self._handle, timer_values, time_mode=time_mode)
            for pdf in rows:
                out = fn(tuple(key), pdf, ts)
                if out is not None and len(out):
                    yield out

        def handleExpiredTimer(self, key, timer_values, expired_timer_info) -> Iterator[pd.DataFrame]:
            ts = TableStateV2(
                self._vs, self._handle, timer_values, timed_out=True, time_mode=time_mode
            )
            out = fn(tuple(key), pd.DataFrame(), ts)
            if out is not None and len(out):
                yield out

        def close(self) -> None:
            return None

    def build(df):
        return df.groupBy(*table.key_cols).transformWithStateInPandas(
            _Processor(),
            outputStructType=table.output_schema or table.value_schema,
            outputMode="Update",
            timeMode=time_mode,
        )

    # exposed for direct unit-testing of the processor logic (init/TTL
    # wiring, input handling, timer expiry) in images where the
    # streaming Python runner's google.protobuf dependency is absent
    build.processor_cls = _Processor
    build.time_mode = time_mode
    return build
