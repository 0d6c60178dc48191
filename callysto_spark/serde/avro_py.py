"""Pure-Python Avro binary codec — jar-free S3/S4 decode for real.

The reference deserializes Kafka Avro payloads natively
(`callysto-avro/src/avro.rs:31-198`); Spark's `from_avro` needs the
spark-avro jar, which pip-installed pyspark doesn't ship. The Avro
binary encoding itself is a small public spec (zigzag varints, length-
prefixed bytes, fields in schema order), so this module implements it
directly and exposes `decode_avro_udf` — an Arrow-native batched UDF
that turns a binary payload column into a typed struct column with the
StructType derived from the SAME schema by `avro_schema_to_spark`.

Supported (the subset `avro_schema_to_spark` maps): null, boolean,
int, long, float, double, bytes, string, record, array, map, enum,
fixed, union-with-null, logical timestamp-micros/millis and date.
Schema evolution/resolution (reader≠writer schema) is out of scope —
payloads must be written with the schema they're read with, which is
the reference's single-schema situation too.

Scale shape: decode happens executor-side per Arrow batch (one Python
crossing), embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import datetime as _dt
import json
import struct as _struct
from typing import Any

# module-scope: the arrow_udf type hints (stringified by the __future__
# import) resolve `pa` against module globals; pd is for _is_null's
# pandas-sentinel recognition on dict-level callers
import pandas as pd
import pyarrow as pa

_EPOCH_DATE = _dt.date(1970, 1, 1)


# --------------------------------------------------------------- decoding
class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("truncated avro payload")
        self.pos += n
        return b

    def read_long(self) -> int:
        # zigzag varint; bounds-checked so corrupted payloads fail as
        # ValueError, and capped at 10 bytes (an int64 zigzag never
        # needs more — an unbounded 0x80-run would otherwise build a
        # giant Python int quadratically, a decode-time DoS)
        shift = 0
        acc = 0
        buf, pos, end = self.buf, self.pos, len(self.buf)
        while True:
            if pos >= end:
                raise ValueError("truncated avro varint")
            byte = buf[pos]
            pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
            if shift > 63:
                raise ValueError("overlong avro varint")
        if acc > 0xFFFFFFFFFFFFFFFF:
            # a 10-byte varint can carry up to 70 bits; bits beyond 64
            # cannot come from an int64 zigzag — and letting them through
            # would produce a Python int that overflows the int64 Arrow
            # conversion AFTER the permissive-mode catch
            raise ValueError("avro varint exceeds int64 range")
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)

    def remaining(self) -> int:
        return len(self.buf) - self.pos


#: _zero_size_items classifications
_SIZED = 0  # items occupy ≥1 byte — the bytes-remaining bound applies
_ZERO_SHARED = 1  # zero bytes, decodes to a shared singleton (None, b"")
_ZERO_FRESH = 2  # zero bytes, but each decode allocates (empty records)


def _zero_size_items(schema: Any) -> int:
    """Can a CONFORMING value of this schema occupy zero bytes — and if
    so, what does decoding one COST? Returns ``_SIZED`` when every item
    takes ≥1 byte (the bytes-remaining bound applies), ``_ZERO_SHARED``
    for 'null' in any spelling and ``fixed`` of size 0 (decoded value is
    a shared ``None``/``b""`` — one pointer per item), and
    ``_ZERO_FRESH`` for records all of whose fields are themselves
    zero-size (each decode allocates a fresh dict, ~72 B/item — 16.7M of
    them is >1 GiB, so these get a 16× tighter count cap). Unions cost a
    ≥1-byte branch index and arrays/maps a ≥1-byte terminator, so they
    never qualify. Used to pick the overlong-block bound below: with
    zero-byte items the bytes-remaining bound is meaningless and a
    conforming writer CAN legitimately pack a huge count into a few
    bytes."""
    if isinstance(schema, str):
        return _ZERO_SHARED if schema == "null" else _SIZED
    if isinstance(schema, list):
        return _SIZED
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "null":
            return _ZERO_SHARED
        if t == "record":
            if all(_zero_size_items(f["type"]) for f in schema["fields"]):
                return _ZERO_FRESH
            return _SIZED
        if t == "fixed":
            return _ZERO_SHARED if schema["size"] == 0 else _SIZED
        if isinstance(t, (dict, list)):
            return _zero_size_items(t)
        return _SIZED
    return _SIZED


def _zero_item_cost(schema: Any) -> int:
    """Approximate decoded HEAP BYTES per item of a zero-size schema —
    the unit the array-block budget below is denominated in. A shared
    singleton (null, fixed(0)) costs one list slot (~8 B). A fresh
    empty record costs a dict (~64 B) plus ~100 B per entry (hash-table
    slot + key pointer + value), where a nested zero-size field's value
    contributes its OWN cost recursively — so a record of 1000 null
    fields prices at ~100 KB/item, not the flat ~72 B a field-blind
    estimate would claim, and the count budget tightens proportionally."""
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            return 64 + sum(100 + _zero_item_cost(f["type"]) for f in schema["fields"])
        if isinstance(t, (dict, list)):
            return _zero_item_cost(t)
    return 8


def _decode(r: _Reader, schema: Any) -> Any:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: long index then value
        idx = r.read_long()
        # explicit range check: a corrupted negative index would WRAP
        # to the last branch and decode silently-wrong data
        if not 0 <= idx < len(schema):
            raise ValueError(f"bad avro union index {idx}")
        return _decode(r, schema[idx])
    else:
        t = schema["type"]
        logical = schema.get("logicalType")
        if logical == "timestamp-micros":
            return _dt.datetime.utcfromtimestamp(0) + _dt.timedelta(microseconds=r.read_long())
        if logical == "timestamp-millis":
            return _dt.datetime.utcfromtimestamp(0) + _dt.timedelta(milliseconds=r.read_long())
        if logical == "date":
            return _EPOCH_DATE + _dt.timedelta(days=r.read_long())
        if t == "record":
            return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
        if t == "array":
            out = []
            # zero-byte items (null in any spelling, empty records,
            # fixed(0) — see _zero_size_items) make the bytes-remaining
            # bound meaningless — a conforming writer CAN emit a large
            # count in a few bytes; budget those by DECODED HEAP COST
            # instead so a corrupted count still cannot OOM the
            # executor. The budget is CUMULATIVE across the array's
            # blocks (a per-block cap re-arms every ~4 payload bytes:
            # repeated varint(cap) blocks for an array-of-null would
            # allocate cap list slots per block without bound) and is
            # denominated in approximate decoded bytes via
            # _zero_item_cost, so a fresh-record item with many
            # zero-size fields (KBs per decode) tightens the admissible
            # count proportionally instead of passing a field-blind cap.
            zero_size = _zero_size_items(schema["items"])
            zero_budget = 1 << 27  # ~128 MB decoded-heap ceiling per array
            if zero_size:
                zero_cost = _zero_item_cost(schema["items"])
                zero_spent = 0
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:  # block with byte size prefix
                    r.read_long()
                    n = -n
                if zero_size:
                    zero_spent += n * zero_cost
                    if zero_spent > zero_budget:
                        raise ValueError(
                            f"overlong avro array block ({n}); zero-size items "
                            f"exceed ~{zero_budget >> 20} MB decoded budget"
                        )
                # a corrupted count can't exceed the bytes left (every
                # well-formed non-empty block's items occupy ≥1 byte)
                elif n > r.remaining() + 1:
                    raise ValueError(f"overlong avro array block ({n})")
                out.extend(_decode(r, schema["items"]) for _ in range(n))
        if t == "map":
            out_m: dict[str, Any] = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out_m
                if n < 0:
                    r.read_long()
                    n = -n
                if n > r.remaining() + 1:
                    raise ValueError(f"overlong avro map block ({n})")
                for _ in range(n):
                    k = r.read(r.read_long()).decode("utf-8")
                    out_m[k] = _decode(r, schema["values"])
        if t == "enum":
            sym = r.read_long()
            if not 0 <= sym < len(schema["symbols"]):  # same wrap hazard as unions
                raise ValueError(f"bad avro enum index {sym}")
            return schema["symbols"][sym]
        if t == "fixed":
            return r.read(schema["size"])
        return _decode(r, t)
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) != b"\x00"
    if t == "int":
        v = r.read_long()
        # avro 'int' is 32-bit; a corrupted wider varint would survive
        # decode only to overflow the int32 Arrow conversion LATER,
        # outside permissive mode's per-record catch
        if not -(1 << 31) <= v < (1 << 31):
            raise ValueError(f"avro int out of range ({v})")
        return v
    if t == "long":
        return r.read_long()
    if t == "float":
        return _struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return _struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return bytes(r.read(r.read_long()))
    if t == "string":
        return r.read(r.read_long()).decode("utf-8")
    raise ValueError(f"unsupported avro type: {t}")


def decode_record(payload: bytes, schema: dict | str) -> dict:
    """One Avro-binary record → dict (schema = parsed JSON or string).

    Corruption contract (fuzz-tested, tests/test_serde_fuzz.py): ANY
    malformed payload raises ValueError — truncated/overlong varints,
    out-of-range union/enum indexes, block counts beyond the buffer —
    never IndexError/OverflowError, never a silent wrong-branch decode,
    never unbounded memory. Mirrors the reference's per-record
    AvroResult error wrapping (callysto-avro/src/avro.rs:31-74)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    try:
        return _decode(_Reader(payload), schema)
    except OverflowError as exc:
        # corrupted timestamp/date varints overflow datetime arithmetic
        raise ValueError(f"malformed avro payload: {exc}") from exc


# --------------------------------------------------------------- encoding
def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _is_null(value: Any, nan_as_null: bool = True) -> bool:
    """Null for union-branch selection. Two conventions:

    - dict-level / pandas-sourced callers (``nan_as_null=True``, the
      encode_record default): a NULL long/double that pandas rendered
      as float NaN, and pd.NA/pd.NaT, all take the union's null branch.
    - the Arrow-native Spark crossing (``nan_as_null=False``): Arrow
      distinguishes real NULL slots (None) from literal NaN doubles, so
      ONLY None is null and a genuine NaN value encodes as an IEEE NaN
      double — matching spark-avro's to_avro bit-for-bit.
    """
    if value is None:
        return True
    if not nan_as_null:
        return False
    if isinstance(value, float):
        return value != value  # NaN
    return value is pd.NA or value is pd.NaT


def _encode(value: Any, schema: Any, out: bytearray, nan_as_null: bool = True) -> None:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: pick null vs the non-null branch
        if _is_null(value, nan_as_null):
            idx = schema.index("null")
            out += _zigzag(idx)
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        out += _zigzag(idx)
        _encode(value, schema[idx], out, nan_as_null)
        return
    else:
        t = schema["type"]
        logical = schema.get("logicalType")
        if logical in ("timestamp-micros", "timestamp-millis"):
            # Arrow hands tz-aware datetimes (session tz); normalize to
            # naive UTC so the epoch subtraction is well-defined either way
            if value.tzinfo is not None:
                value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            epoch = _dt.datetime.utcfromtimestamp(0)
            delta = value - epoch
            us = delta // _dt.timedelta(microseconds=1)
            out += _zigzag(us if logical == "timestamp-micros" else us // 1000)
            return
        if logical == "date":
            out += _zigzag((value - _EPOCH_DATE).days)
            return
        if t == "record":
            for f in schema["fields"]:
                _encode(value[f["name"]], f["type"], out, nan_as_null)
            return
        if t == "array":
            # len() check, not truthiness: Arrow hands numpy arrays here
            if value is not None and len(value) > 0:
                out += _zigzag(len(value))
                for v in value:
                    _encode(v, schema["items"], out, nan_as_null)
            out += _zigzag(0)
            return
        if t == "map":
            if value is not None and len(value) > 0:
                # dict from plain callers; list of (k, v) pairs from the
                # Arrow crossing (MapScalar.as_py renders pairs)
                pairs = value.items() if hasattr(value, "items") else value
                out += _zigzag(len(value))
                for k, v in pairs:
                    kb = k.encode("utf-8")
                    out += _zigzag(len(kb)) + kb
                    _encode(v, schema["values"], out, nan_as_null)
            out += _zigzag(0)
            return
        if t == "enum":
            out += _zigzag(schema["symbols"].index(value))
            return
        if t == "fixed":
            out += value
            return
        _encode(value, t, out, nan_as_null)
        return
    if t == "null":
        return
    if t == "boolean":
        out += b"\x01" if value else b"\x00"
    elif t in ("int", "long"):
        out += _zigzag(int(value))
    elif t == "float":
        out += _struct.pack("<f", value)
    elif t == "double":
        out += _struct.pack("<d", value)
    elif t == "bytes":
        out += _zigzag(len(value)) + bytes(value)
    elif t == "string":
        vb = value.encode("utf-8")
        out += _zigzag(len(vb)) + vb
    else:
        raise ValueError(f"unsupported avro type: {t}")


def encode_record(value: dict, schema: dict | str, nan_as_null: bool = True) -> bytes:
    """dict → Avro-binary record bytes.

    ``nan_as_null=True`` (default) is the dict-level/pandas convention:
    a float NaN in a nullable field encodes as the union's null branch.
    The Arrow-native Spark crossing passes False — Arrow already
    distinguishes NULL slots (None) from literal NaN doubles, and a
    genuine NaN must encode as an IEEE NaN exactly like spark-avro's
    to_avro does (see _is_null)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    out = bytearray()
    _encode(value, schema, out, nan_as_null)
    return bytes(out)


def _fully_nullable(dt):
    """Deep-nullable copy of a Spark DataType (struct fields, array
    elements, map values) — spark-avro's nullableSchema equivalent."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _fully_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_fully_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _fully_nullable(dt.valueType), True)
    return dt


# ------------------------------------------------------- Spark integration
#
# Both crossings are Arrow-NATIVE (arrow_udf, Spark 4): values never pass
# through pandas, so nullable int64 columns stay int64-exact end to end.
# (The previous pandas_udf crossing routed a nullable long through
# float64, silently rounding values above 2^53 — e.g. an event_id of
# 9007199254740993 round-tripped as ...992 with no error.)
def decode_avro_udf(schema_json: str, mode: str = "failfast"):
    """Arrow-batched UDF: binary Avro payload column → struct column
    typed by ``avro_schema_to_spark(schema_json)``. The jar-free
    counterpart of spark-avro's ``from_avro``; ``decode_avro`` wraps it.

    ``mode`` mirrors spark-avro's option of the same name:
    ``failfast`` (default) lets a malformed payload fail the task with
    the decoder's ValueError; ``permissive`` turns each malformed
    record into a struct with every field NULL and keeps going — the
    100 TB posture, where one corrupt Kafka message must cost one row,
    not the job. All-null FIELDS, not a null row: that is exactly what
    spark-avro emits (AvroDataToCatalyst's nullResultRow); a NULL
    payload (tombstone) still decodes to a NULL struct."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type

    from callysto_spark.serde.avro import avro_schema_to_spark

    if mode not in ("failfast", "permissive"):
        raise ValueError(f"mode must be 'failfast' or 'permissive', got {mode!r}")
    spark_type = avro_schema_to_spark(schema_json)
    schema = json.loads(schema_json)
    permissive = mode == "permissive"
    if permissive:
        # spark-avro parity: PERMISSIVE forces the result type fully
        # NULLABLE (AvroDataToCatalyst uses nullableSchema) — the
        # all-null nullResultRow must be representable even for fields
        # the avro schema declares non-null
        spark_type = _fully_nullable(spark_type)
    # timestamps decode to naive-UTC datetimes; tz=UTC in the arrow type
    # makes pyarrow interpret them as the UTC instants they are
    arrow_type = to_arrow_type(spark_type)
    # spark-avro parity: PermissiveMode yields a row whose FIELDS are
    # all null (nullResultRow), distinct from the NULL row a null
    # payload produces
    null_row = {f.name: None for f in spark_type.fields}

    def _one(b: bytes | None):
        if b is None:
            return None
        if not permissive:
            return decode_record(b, schema)
        try:
            return decode_record(b, schema)
        except ValueError:
            return dict(null_row)

    @arrow_udf(spark_type)
    def _decode_arrow(payloads: pa.Array) -> pa.Array:
        # to_pylist renders null payload slots as None; a NULL payload
        # (Kafka tombstone) decodes to a NULL STRUCT — matching
        # spark-avro from_avro's null-intolerant eval
        records = [_one(b) for b in payloads.to_pylist()]
        return pa.array(records, type=arrow_type)

    return _decode_arrow


def encode_avro_udf(schema_json: str):
    """Arrow-batched UDF: struct column → binary Avro payloads
    (jar-free ``to_avro`` counterpart, for the S7 sink path)."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import BinaryType

    schema = json.loads(schema_json)

    @arrow_udf(BinaryType())
    def _encode_arrow(structs: pa.Array) -> pa.Array:
        # nan_as_null=False: to_pylist renders a NULL double slot as
        # None and a literal NaN as float('nan') — the distinction is
        # real here, and a genuine NaN must encode as an IEEE NaN double
        # (spark-avro parity), not be silently folded to the null branch
        payloads = [
            None if rec is None else encode_record(rec, schema, nan_as_null=False)
            for rec in structs.to_pylist()
        ]
        return pa.array(payloads, type=pa.binary())

    return _encode_arrow
