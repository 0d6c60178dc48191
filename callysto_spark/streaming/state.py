"""Keyed, durable state: the reference's `CTable` re-expressed as Spark
keyed state.

Reference semantics (`callysto/src/types/table.rs`): a partitioned KV
table whose writes dual-write to a compacted changelog topic
(`{app}-{table}-changelog`, `table.rs:59-62`), replayed on startup by a
recovery service (`runtime/recovery.rs:51-99`). Spark gives the same
durability contract from the checkpoint + state store (RocksDB provider
at scale: ``spark.sql.streaming.stateStore.providerClass``), with
recovery automatic — so get/set/del (`table.rs:81-113`) map onto
GroupState, and the whole T4-T9 recovery machinery of SURVEY.md §2.3 is
configuration, not code.

Bucket layout. The reference keeps one KV map per partition and touches
it in-process per message (`types/table.rs:318-321`,
`stores/rocksdb.rs`). The binding here is the same shape one level
down: rows are grouped on ``__bucket = pmod(xxhash64(<key cols>), 256)``
and each stateful pandas call serves one bucket, so PySpark's
per-group conversion (about a millisecond per group) is paid once per
bucket instead of once per key. A bucket's GroupState holds one
``binary`` value: a pickle of ``(values, deadlines)``, two dicts keyed by
plain-Python key tuples, mapping to the key's value tuple and to its
pending timeout in epoch ms. Inside the call the bucket's rows are split
per key (``groupby(sort=False, dropna=False)``) and the user closure
runs once per key with all of that key's rows for the micro-batch;
:class:`TableState` is the per-key view over the two dicts. A NULL key
value is its own key (``None`` in the tuple). Two twin columns ride
along where pandas would blur keys Spark's groupBy keeps apart: a
NULL-coalesced ``long`` for each nullable integral key column, so keys
beyond 2**53 stay exact when a NULL in the same bucket turns the pandas
column into float64, and an is-NULL flag for each float/double key
column, so a NaN key and a NULL key stay two keys (every NaN key is the
one ``_NAN`` object, because NaN != NaN).

Timeouts emulate Spark's per-key GroupState semantics inside the
bucket: a key's deadline is cleared whenever the closure runs for it
unless the closure re-arms it; a key without rows whose deadline has
passed (Spark's strict ``deadline < processing time`` or ``deadline <
watermark``) is called with ``timed_out=True`` and an empty frame with
the input's columns, even while other keys of its bucket have data;
the bucket's own GroupState timeout is re-armed to the earliest
remaining deadline, and a bucket left with no key is removed.

Trade-off: every touched bucket rewrites its whole dict, so state bytes
written per batch grow with keys/256 per touched bucket rather than
with the keys updated. The gain is measured where buckets are small
(thousands of keys, tens per bucket); with hundreds of thousands of
keys and sparse updates each batch pickles and writes far more state
than one value per updated key would, and what that costs end to end
is not measured. ``BUCKETS``, the hash and the pickle layout are
the checkpoint format — module constants, not settings (a
core-count-derived count would silently re-bucket state between
restarts). Table checkpoints written by the earlier one-group-per-key
binding cannot be resumed: Spark's state-schema check rejects them.
"""

from __future__ import annotations

import datetime
import pickle
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd

BUCKETS = 256
BUCKET_COL = "__bucket"
STATE_SCHEMA = "bucket binary"
_PICKLE_PROTOCOL = 5
_INT_DTYPES = {"byte": "int8", "short": "int16", "integer": "int32", "long": "int64"}
_NAN = float("nan")


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _py(v: Any) -> Any:
    """A numpy/pandas scalar as a plain Python value (GroupState.update's
    conversion), so state pickles never depend on numpy or pandas."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, pd.Timedelta):
        return v.to_pytimedelta()
    return v


def _is_null(v: Any) -> bool:
    return v is None or (pd.api.types.is_scalar(v) and bool(pd.isna(v)))


def _one_nan(key: tuple) -> tuple:
    """``key`` with every NaN replaced by the one ``_NAN`` object: NaN !=
    NaN, so only that shared object lets a NaN key find its state."""
    return tuple(_NAN if isinstance(v, float) and v != v else v for v in key)


@dataclass
class CTable:
    """Declarative table: key columns + state schema (DDL strings)."""

    name: str
    key_schema: str  # e.g. "parity string" — the groupBy columns
    value_schema: str  # state tuple DDL, e.g. "cnt long, total double"
    output_schema: str | None = None  # rows emitted by the table agent

    @property
    def key_cols(self) -> list[str]:
        from pyspark.sql.types import StructType

        return [f.name for f in StructType.fromDDL(self.key_schema).fields]


class TableState:
    """get/set/del parity shim (reference `types/table.rs:81-113`) for one
    key of a bucket, plus the TTL surface the reference lacks:
    processing/event-time timeouts for state eviction (SURVEY.md §7 risk
    register: TTL semantics).

    ``values`` and ``deadlines`` are the bucket's dicts (key tuple →
    value tuple, key tuple → epoch-ms deadline); ``group_state`` is the
    bucket's GroupState, which supplies the clocks and validates timeout
    calls exactly as it would for a key of its own. Writes only touch the
    dicts: the bucket function pickles them back into the GroupState,
    whole, once the bucket's call ends — the per-bucket state write whose
    size grows with keys/256. A deadline lives until the key's next call
    (which clears it unless the closure re-arms it) or until it fires as
    a ``timed_out`` call."""

    def __init__(
        self,
        values: dict,
        deadlines: dict,
        group_state: Any,
        key: tuple,
        arity: int,
        timed_out: bool = False,
    ) -> None:
        self._values, self._deadlines, self._gs = values, deadlines, group_state
        self._key, self._arity, self._timed_out = key, arity, timed_out

    def get(self) -> tuple | None:
        return self._values.get(self._key)

    def set(self, *values: Any) -> None:
        if len(values) != self._arity:
            raise ValueError(f"state value has {len(values)} fields, the table declares {self._arity}")
        self._values[self._key] = tuple(_py(v) for v in values)

    def delete(self) -> None:
        self._values.pop(self._key, None)

    @property
    def exists(self) -> bool:
        return self._key in self._values

    @property
    def timed_out(self) -> bool:
        """True when this invocation is a timeout callback (no new rows;
        decide whether to emit/evict)."""
        return self._timed_out

    def set_timeout_ms(self, ms: int) -> None:
        """Arm a processing-time timeout ``ms`` after this batch's
        processing time (requires the table agent to be registered with
        timeout='ProcessingTimeTimeout')."""
        self._gs.setTimeoutDuration(ms)  # GroupState's own domain/type/sign checks
        self._deadlines[self._key] = self._gs.getCurrentProcessingTimeMs() + ms

    def set_timeout_timestamp_ms(self, epoch_ms: int | datetime.datetime) -> None:
        """Arm an event-time timeout (requires timeout='EventTimeTimeout'
        and a watermark on the stream; fires once the watermark passes)."""
        self._gs.setTimeoutTimestamp(epoch_ms)  # also rejects a time behind the watermark
        if isinstance(epoch_ms, datetime.datetime):
            epoch_ms = int(epoch_ms.timestamp() * 1000)
        self._deadlines[self._key] = int(epoch_ms)


def _expiry_threshold(gs: Any, timeout: str) -> int | None:
    """The time a deadline must be strictly below to fire this batch, or
    None when nothing can expire."""
    from pyspark.errors import PySparkRuntimeError

    if timeout == "ProcessingTimeTimeout":
        return gs.getCurrentProcessingTimeMs()
    if timeout == "EventTimeTimeout":
        try:
            return gs.getCurrentWatermarkMs()
        except PySparkRuntimeError:  # no watermark on the stream: timeouts never fire
            return None
    return None


def _bucket_udf(
    fn: Callable[[tuple, pd.DataFrame, TableState], pd.DataFrame | None],
    keys: list[str],
    exact: dict[str, tuple[str, str]],
    floats: dict[str, str],
    timeout: str,
    arity: int,
):
    """The grouped-map-with-state function for one bucket.

    ``keys`` are the key columns; ``exact`` maps a nullable integral key
    column to its NULL-coalesced twin column and its pandas dtype;
    ``floats`` maps a float/double key column to its is-NULL flag column
    (pandas shows NULL and NaN alike; Spark groups them apart)."""
    twins = [twin for twin, _ in exact.values()] + list(floats.values())

    def key_value(k: str, raw: dict) -> Any:
        if k in floats:
            return None if raw[floats[k]] else float(raw[k])
        if _is_null(raw[k]):
            return None
        return int(raw[exact[k][0]]) if k in exact else _py(raw[k])

    def key_of(group: tuple) -> tuple:
        raw = dict(zip(keys + twins, group))
        key = tuple(key_value(k, raw) for k in keys)
        # through the module function: this closure is pickled by value,
        # which would give it a copy of _NAN of its own
        return _one_nan(key) if floats else key

    def call(key, rows, ts):
        out = fn(key, rows, ts)
        return out if out is not None and len(out) else None

    def bucket(_bucket_key: tuple, pdfs: Iterator[pd.DataFrame], gs: Any) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(pdfs, ignore_index=True)  # the bucket's rows arrive in Arrow-batch-sized chunks
        values, deadlines = pickle.loads(gs.get[0]) if gs.exists else ({}, {})
        if floats:  # unpickled NaNs are new objects
            values = {_one_nan(k): v for k, v in values.items()}
            deadlines = {_one_nan(k): at for k, at in deadlines.items()}
        data = pdf.drop(columns=[BUCKET_COL, *twins])
        if len(pdf):
            # a NULL in the bucket turns an integral key column into float64
            floated = [(keys.index(k), k, dtype) for k, (_, dtype) in exact.items() if data[k].dtype != dtype]
            by = keys + [pdf[twin] for twin in twins]
            for group, rows in data.groupby(by, sort=False, dropna=False):
                key = key_of(group)
                for i, k, dtype in floated:
                    if key[i] is not None:
                        rows = rows.assign(**{k: np.full(len(rows), key[i], dtype=dtype)})
                deadlines.pop(key, None)
                out = call(key, rows, TableState(values, deadlines, gs, key, arity))
                if out is not None:
                    yield out
        now = _expiry_threshold(gs, timeout)
        if now is not None:
            empty = data.iloc[:0]
            # Spark orders no timed-out keys (and key tuples may not compare)
            for key in [key for key, at in deadlines.items() if at < now]:
                del deadlines[key]
                out = call(key, empty, TableState(values, deadlines, gs, key, arity, timed_out=True))
                if out is not None:
                    yield out
        if not values and not deadlines:
            gs.remove()
            return
        gs.update((pickle.dumps((values, deadlines), protocol=_PICKLE_PROTOCOL),))
        if deadlines:
            first = min(deadlines.values())
            if timeout == "ProcessingTimeTimeout":
                gs.setTimeoutDuration(max(1, first - gs.getCurrentProcessingTimeMs()))
            else:
                gs.setTimeoutTimestamp(first)

    return bucket


def bind_table_agent(
    table: CTable,
    fn: Callable[[tuple, pd.DataFrame, TableState], pd.DataFrame | None],
    timeout: str = "NoTimeout",
):
    """Bind a user closure to a table → streaming transform builder.

    The closure sees (key, all of the micro-batch's rows for that key as
    pandas, TableState) and may return output rows — the
    `Fn(Option<OwnedMessage>, Tables, Context)` shape of the reference's
    table agents (`types/table_agent.rs:26-103`), batched. Keys reach it
    as tuples of plain Python values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType, IntegralType, StructType

    def build(df):
        keys = df.select(*[F.col(_quote(k)) for k in table.key_cols]).columns
        exact = {
            k: (f"__exact_{i}", _INT_DTYPES[df.schema[k].dataType.typeName()])
            for i, k in enumerate(keys)
            if df.schema[k].nullable and isinstance(df.schema[k].dataType, IntegralType)
        }
        floats = {
            k: f"__null_{i}"
            for i, k in enumerate(keys)
            if isinstance(df.schema[k].dataType, (FloatType, DoubleType))
        }
        staged = df.withColumns(
            {
                BUCKET_COL: F.pmod(F.xxhash64(*[F.col(_quote(k)) for k in keys]), F.lit(BUCKETS)).cast("int"),
                **{twin: F.coalesce(F.col(_quote(k)), F.lit(0)).cast("long") for k, (twin, _) in exact.items()},
                **{flag: F.isnull(F.col(_quote(k))) for k, flag in floats.items()},
            }
        )
        arity = len(StructType.fromDDL(table.value_schema).fields)
        return staged.groupBy(BUCKET_COL).applyInPandasWithState(
            _bucket_udf(fn, keys, exact, floats, timeout, arity),
            outputStructType=table.output_schema or table.value_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )

    return build
