"""Runner-less tests of the table agent's bucket function
(`streaming/state.py`): one ``applyInPandasWithState`` call serves a
hash bucket of keys, and per-key state, deadlines and timeout callbacks
are emulated inside it. Each test drives the bucket function directly
with PySpark's own pure-Python ``GroupState`` standing in for the
runner's, so the clocks, the timeout checks and the state update/remove
bookkeeping are the real ones."""

from __future__ import annotations

import datetime
import json
import math
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PySparkRuntimeError, PySparkValueError
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import BinaryType, StructField, StructType

from callysto_spark.streaming.state import BUCKET_COL, _bucket_udf


def group_state(timeout="NoTimeout", now=10_000, watermark=None, blob=None, timed_out=False):
    """A bucket's GroupState as the runner would hand it over."""
    return GroupState(
        optionalValue=Row(blob) if blob is not None else None,
        batchProcessingTimeMs=now,
        eventTimeWatermarkMs=-1 if watermark is None else watermark,
        timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=watermark is not None,
        defined=blob is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=-1,
        keyAsUnsafe=b"",
        valueSchema=StructType([StructField("bucket", BinaryType())]),
    )


def blob_of(values, deadlines=None):
    return pickle.dumps((values, deadlines or {}), protocol=5)


def stored(gs):
    """The (values, deadlines) the bucket function left in ``gs``."""
    return pickle.loads(gs.get[0])


def timeout_at(gs) -> int:
    return json.loads(gs.json())["timeoutTimestamp"]


def rows(*pairs):
    """Input rows (k, v) of one bucket, as the runner delivers them."""
    return pd.DataFrame({"k": [k for k, _ in pairs], "v": [v for _, v in pairs], BUCKET_COL: 7})


class Recorder:
    """A counting closure that logs every call, evicts a key on its
    timeout call and, when asked, arms a timeout on every data call."""

    def __init__(self, arm_ms=None, arm_at=None):
        self.calls = []
        self.arm_ms, self.arm_at = arm_ms, arm_at

    def __call__(self, key, pdf, state):
        self.calls.append((key, len(pdf), list(pdf.columns), state.timed_out))
        if state.timed_out:
            state.delete()
            return pd.DataFrame({"k": [key[0]], "cnt": [-1]})
        cnt = (state.get() or (0,))[0] + len(pdf)
        state.set(cnt)
        if self.arm_ms is not None:
            state.set_timeout_ms(self.arm_ms)
        if self.arm_at is not None:
            state.set_timeout_timestamp_ms(self.arm_at)
        return pd.DataFrame({"k": [key[0]], "cnt": [cnt]})


def run_bucket(fn, gs, frames, timeout="NoTimeout", keys=("k",), arity=1):
    udf = _bucket_udf(fn, list(keys), {}, {}, timeout, arity)
    return list(udf((7,), iter(frames), gs))


def test_rows_split_per_key_one_call_each_across_chunks():
    fn = Recorder()
    gs = group_state()
    out = run_bucket(fn, gs, [rows(("a", 1), ("b", 2), ("a", 3)), rows(("a", 4))])
    assert sorted(c[:2] for c in fn.calls) == [(("a",), 3), (("b",), 1)]
    assert all(c[2] == ["k", "v"] for c in fn.calls), "the bucket column never reaches the closure"
    assert sorted(map(tuple, pd.concat(out).values.tolist())) == [("a", 3), ("b", 1)]
    values, deadlines = stored(gs)
    assert values == {("a",): (3,), ("b",): (1,)} and deadlines == {}


def test_expired_key_fires_while_bucket_mate_gets_data():
    fn = Recorder()
    gs = group_state(
        "ProcessingTimeTimeout",
        now=10_000,
        blob=blob_of({("a",): (5,), ("b",): (2,)}, {("a",): 9_000}),
    )
    out = run_bucket(fn, gs, [rows(("b", 1))], "ProcessingTimeTimeout")
    assert [(c[0], c[1], c[3]) for c in fn.calls] == [(("b",), 1, False), (("a",), 0, True)]
    assert fn.calls[1][2] == ["k", "v"], "a timed-out key sees an empty input-shaped frame"
    assert sorted(map(tuple, pd.concat(out).values.tolist())) == [("a", -1), ("b", 3)]
    assert stored(gs) == ({("b",): (3,)}, {})


def test_deadline_cleared_on_call_unless_rearmed():
    start = blob_of({("a",): (1,), ("b",): (1,)}, {("a",): 20_000, ("b",): 20_000})
    gs = group_state("ProcessingTimeTimeout", now=10_000, blob=start)
    run_bucket(Recorder(), gs, [rows(("a", 1))], "ProcessingTimeTimeout")
    assert stored(gs)[1] == {("b",): 20_000}, "a's deadline cleared by the call, b's kept"

    gs = group_state("ProcessingTimeTimeout", now=10_000, blob=start)
    run_bucket(Recorder(arm_ms=500), gs, [rows(("a", 1))], "ProcessingTimeTimeout")
    assert stored(gs)[1] == {("a",): 10_500, ("b",): 20_000}


def test_bucket_timeout_rearmed_to_earliest_remaining_deadline():
    gs = group_state(
        "ProcessingTimeTimeout",
        now=10_000,
        blob=blob_of({("a",): (1,), ("b",): (1,)}, {("b",): 30_000}),
    )
    run_bucket(Recorder(arm_ms=4_000), gs, [rows(("a", 1))], "ProcessingTimeTimeout")
    assert stored(gs)[1] == {("a",): 14_000, ("b",): 30_000}
    assert timeout_at(gs) == 14_000

    # event time: the bucket's timeout is the earliest remaining timestamp
    gs = group_state(
        "EventTimeTimeout",
        watermark=1_000,
        blob=blob_of({("b",): (1,)}, {("b",): 9_000}),
    )
    run_bucket(Recorder(arm_at=5_000), gs, [rows(("a", 1))], "EventTimeTimeout")
    assert stored(gs)[1] == {("a",): 5_000, ("b",): 9_000}
    assert timeout_at(gs) == 5_000


def test_null_key_and_bucket_mate_expire_at_one_deadline():
    """Keys armed with one duration in one batch share a deadline; firing
    them must never compare the key tuples (None < 'a' raises)."""
    gs = group_state(
        "ProcessingTimeTimeout",
        now=10_000,
        timed_out=True,
        blob=blob_of({(None,): (1,), ("a",): (2,)}, {(None,): 9_000, ("a",): 9_000}),
    )
    fn = Recorder()
    run_bucket(fn, gs, [rows()], "ProcessingTimeTimeout")
    assert sorted(c[0] for c in fn.calls if c[0] != (None,)) == [("a",)]
    assert [c[0] for c in fn.calls if c[0] == (None,)] == [(None,)]
    assert all(c[3] for c in fn.calls)
    assert not gs.exists


def test_expiry_uses_strict_comparison_at_the_boundary():
    values = {("a",): (1,), ("b",): (1,)}
    # processing time: deadline == now does not fire, now - 1 does
    gs = group_state("ProcessingTimeTimeout", now=10_000, timed_out=True,
                     blob=blob_of(values, {("a",): 10_000, ("b",): 9_999}))
    fn = Recorder()
    run_bucket(fn, gs, [rows()], "ProcessingTimeTimeout")
    assert [c[0] for c in fn.calls] == [("b",)]
    assert stored(gs) == ({("a",): (1,)}, {("a",): 10_000})
    assert timeout_at(gs) > 10_000, "the bucket wakes again for a's deadline"

    # event time: against the watermark
    gs = group_state("EventTimeTimeout", watermark=5_000, timed_out=True,
                     blob=blob_of(values, {("a",): 5_000, ("b",): 4_999}))
    fn = Recorder()
    run_bucket(fn, gs, [rows()], "EventTimeTimeout")
    assert [c[0] for c in fn.calls] == [("b",)]
    assert timeout_at(gs) == 5_000


def test_event_time_without_watermark_never_expires():
    gs = group_state("EventTimeTimeout", blob=blob_of({("a",): (1,)}, {("a",): 1}))
    fn = Recorder()
    run_bucket(fn, gs, [rows(("b", 1))], "EventTimeTimeout")
    assert [c[0] for c in fn.calls] == [("b",)]
    assert stored(gs)[1] == {("a",): 1}


def test_deleting_last_key_removes_bucket_state():
    gs = group_state("ProcessingTimeTimeout", now=10_000, timed_out=True,
                     blob=blob_of({("a",): (4,)}, {("a",): 1_000}))
    run_bucket(Recorder(), gs, [rows()], "ProcessingTimeTimeout")
    assert not gs.exists and json.loads(gs.json())["removed"]

    # a deleted key that re-arms its timeout keeps the bucket (Spark keeps
    # a removed state's timeout too)
    def delete_and_arm(key, pdf, state):
        state.delete()
        state.set_timeout_ms(100)

    gs = group_state("ProcessingTimeTimeout", now=10_000, blob=blob_of({("a",): (4,)}))
    run_bucket(delete_and_arm, gs, [rows(("a", 1))], "ProcessingTimeTimeout")
    assert stored(gs) == ({}, {("a",): 10_100})


def test_wrong_domain_timeouts_raise_like_group_state():
    def arm_duration(key, pdf, state):
        state.set_timeout_ms(1_000)

    def arm_timestamp(key, pdf, state):
        state.set_timeout_timestamp_ms(1_000)

    for timeout, fn in [
        ("NoTimeout", arm_duration),
        ("NoTimeout", arm_timestamp),
        ("EventTimeTimeout", arm_duration),
        ("ProcessingTimeTimeout", arm_timestamp),
    ]:
        with pytest.raises(PySparkRuntimeError, match="CANNOT_WITHOUT"):
            run_bucket(fn, group_state(timeout), [rows(("a", 1))], timeout)

    def arm_zero(key, pdf, state):
        state.set_timeout_ms(0)

    with pytest.raises(PySparkValueError, match="VALUE_NOT_POSITIVE"):
        run_bucket(arm_zero, group_state("ProcessingTimeTimeout"), [rows(("a", 1))], "ProcessingTimeTimeout")

    def arm_behind_watermark(key, pdf, state):
        state.set_timeout_timestamp_ms(datetime.datetime.fromtimestamp(4, tz=datetime.timezone.utc))

    with pytest.raises(PySparkValueError, match="INVALID_TIMEOUT_TIMESTAMP"):
        run_bucket(arm_behind_watermark, group_state("EventTimeTimeout", watermark=5_000),
                   [rows(("a", 1))], "EventTimeTimeout")


def test_state_holds_plain_python_values():
    def numpy_values(key, pdf, state):
        state.set(pdf["v"].sum(), pdf["v"].mean(), pd.Timestamp("2024-01-02"), np.bool_(True))

    gs = group_state()
    run_bucket(numpy_values, gs, [rows((np.int64(3), 1), (np.int64(3), 2))], keys=("k",), arity=4)
    values, _ = stored(gs)
    [(key, value)] = values.items()
    assert key == (3,) and type(key[0]) is int
    assert value == (3, 1.5, datetime.datetime(2024, 1, 2), True)
    assert [type(v) for v in value] == [int, float, datetime.datetime, bool]
    # the pickle names no numpy or pandas type
    assert b"numpy" not in gs.get[0] and b"pandas" not in gs.get[0]

    def wrong_arity(key, pdf, state):
        state.set(1, 2)

    with pytest.raises(ValueError, match="declares 1"):
        run_bucket(wrong_arity, group_state(), [rows(("a", 1))])


def test_null_key_is_its_own_key_and_integral_keys_stay_exact():
    big = 2**62
    frame = pd.DataFrame(
        {
            # a NULL in the bucket turns the long column into float64,
            # where big and big + 1 are the same number
            "k": [float(big), float(big), np.nan, float(big)],
            "v": [1, 2, 3, 4],
            BUCKET_COL: 7,
            "__exact_0": np.array([big, big + 1, 0, big], dtype="int64"),
        }
    )
    seen = {}

    def fn(key, pdf, state):
        seen[key] = (len(pdf), str(pdf["k"].dtype), list(pdf.columns))

    udf = _bucket_udf(fn, ["k"], {"k": ("__exact_0", "int64")}, {}, "NoTimeout", 1)
    list(udf((7,), iter([frame]), group_state()))
    assert seen == {
        (big,): (2, "int64", ["k", "v"]),
        (big + 1,): (1, "int64", ["k", "v"]),
        (None,): (1, "float64", ["k", "v"]),
    }


def test_null_and_nan_float_keys_are_two_keys_across_batches():
    """pandas shows a NULL and a NaN double alike; the is-NULL flag column
    keeps them apart as Spark's groupBy does, and a NaN key finds its
    state again after the bucket's pickle round trip (NaN != NaN)."""
    nan = float("nan")

    def batch(*pairs):
        return pd.DataFrame(
            {
                "k": [nan if k is None else k for k, _ in pairs],
                "v": [v for _, v in pairs],
                BUCKET_COL: 7,
                "__null_0": [k is None for k, _ in pairs],
            }
        )

    calls = []

    def fn(key, pdf, state):
        cnt = (state.get() or (0,))[0] + len(pdf)
        state.set(cnt)
        calls.append((key, cnt))

    def drain(gs, frame):
        calls.clear()
        list(_bucket_udf(fn, ["k"], {}, {"k": "__null_0"}, "NoTimeout", 1)((7,), iter([frame]), gs))
        return sorted((repr(k[0]), cnt) for k, cnt in calls)

    gs = group_state()
    assert drain(gs, batch((1.5, 1), (None, 2), (nan, 3), (None, 4), (nan, 5))) == [
        ("1.5", 1),
        ("None", 2),
        ("nan", 2),
    ]
    assert all(type(k[0]) is float for k, _ in calls if k[0] is not None)

    gs = group_state(blob=gs.get[0])
    assert drain(gs, batch((nan, 6), (None, 7))) == [("None", 3), ("nan", 3)]
    values, _ = stored(gs)
    assert len(values) == 3 and sum(1 for (k,) in values if isinstance(k, float) and math.isnan(k)) == 1
