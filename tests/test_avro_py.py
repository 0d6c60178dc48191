"""Pure-Python Avro binary codec: spec-vector pins, round-trips, and
the jar-free Spark decode/encode path (serde/avro_py.py)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from callysto_spark.serde.avro_py import (
    decode_avro_udf,
    decode_record,
    encode_avro_udf,
    encode_record,
)

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "tag", "type": ["null", "string"]},
            {"name": "nums", "type": {"type": "array", "items": "int"}},
            {"name": "attrs", "type": {"type": "map", "values": "string"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
)


def test_spec_byte_vectors():
    """Pin the wire format against hand-computed Avro-spec encodings —
    proves spec compliance, not just self-inverseness."""
    s = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    # zigzag(27) = 54 = 0x36 ; "foo" = len 3 → 0x06 + bytes
    assert encode_record({"a": 27, "b": "foo"}, s) == b"\x36\x06foo"
    assert decode_record(b"\x36\x06foo", s) == {"a": 27, "b": "foo"}
    long_s = {"type": "record", "name": "L", "fields": [{"name": "v", "type": "long"}]}
    for value, wire in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        assert encode_record({"v": value}, long_s) == wire, value
        assert decode_record(wire, long_s) == {"v": value}


def test_round_trip_nested():
    rec = {
        "id": 42,
        "name": "naïve ✓",
        "score": 2.5,
        "tag": None,
        "nums": [1, -2, 300],
        "attrs": {"k1": "v1", "k2": "v2"},
        "ts": dt.datetime(2026, 8, 13, 12, 0, 0, 123456),
    }
    assert decode_record(encode_record(rec, SCHEMA), SCHEMA) == rec
    rec2 = dict(rec, tag="present", nums=[], attrs={})
    assert decode_record(encode_record(rec2, SCHEMA), SCHEMA) == rec2


def test_auto_engine_selects_runnable_path(spark):
    """The public decode_avro/encode_avro column transforms must produce
    columns that actually EXECUTE without the spark-avro jar: a decode
    sums back to the encoded values and a re-encode reproduces the
    payload bytes."""
    from callysto_spark.serde.avro import decode_avro, encode_avro

    s = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "v", "type": "long"}]}
    )
    df = spark.createDataFrame([(encode_record({"v": i}, s),) for i in range(5)], "p binary")
    total = df.select(decode_avro("p", s).alias("r")).agg(F.sum("r.v")).collect()[0][0]
    assert total == 10
    back = df.select(decode_avro("p", s).alias("r")).select(
        encode_avro(F.struct(F.col("r.v").alias("v")), s).alias("p")
    )
    assert sorted(bytes(r["p"]) for r in back.collect()) == sorted(
        encode_record({"v": i}, s) for i in range(5)
    )


def test_spark_decode_encode_path(spark):
    """Binary payload column → typed struct → re-encoded payloads, all
    executor-side (the jar-free S3/S4/S7 path)."""
    recs = [
        {"id": i, "name": f"n{i}", "score": i / 4, "tag": None if i % 2 else f"t{i}",
         "nums": [i, i + 1], "attrs": {"i": str(i)},
         "ts": dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)}
        for i in range(50)
    ]
    payloads = [(encode_record(r, SCHEMA),) for r in recs]
    df = spark.createDataFrame(payloads, "payload binary").repartition(4)
    decoded = df.select(decode_avro_udf(SCHEMA)(F.col("payload")).alias("r")).select("r.*")
    rows = {r["id"]: r for r in decoded.collect()}
    assert len(rows) == 50
    assert rows[3]["name"] == "n3" and rows[3]["tag"] is None and rows[2]["tag"] == "t2"
    assert rows[7]["nums"] == [7, 8] and rows[7]["attrs"] == {"i": "7"}
    assert rows[9]["ts"] == dt.datetime(2026, 1, 1, 0, 0, 9)
    # encode back: payload bytes must round-trip exactly
    reenc = decoded.select(
        encode_avro_udf(SCHEMA)(F.struct(*[F.col(f) for f in decoded.columns])).alias("payload")
    )
    got = sorted(bytes(r["payload"]) for r in reenc.collect())
    want = sorted(p[0] for p in payloads)
    assert got == want


def test_nullable_long_exact_above_2_53(spark):
    """The Spark crossing is Arrow-native: a nullable int64 field must
    NOT route through float64 (which silently rounds 2^53+1 to 2^53)."""
    big = (1 << 53) + 1
    s = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "v", "type": ["null", "long"]}]}
    )
    df = spark.createDataFrame([(big,), (None,)], "v long")
    enc = df.select(encode_avro_udf(s)(F.struct("v")).alias("p"))
    back = enc.select(decode_avro_udf(s)(F.col("p")).alias("r")).select("r.*")
    assert {r["v"] for r in back.collect()} == {big, None}


def test_null_payload_decodes_to_null_struct(spark):
    """A NULL payload (Kafka tombstone) must decode to a NULL STRUCT —
    spark-avro's from_avro semantics — not a struct of all-NULL
    fields."""
    s = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "v", "type": ["null", "long"]}]}
    )
    df = spark.createDataFrame([(encode_record({"v": 7}, s),), (None,)], "p binary")
    rows = df.select(decode_avro_udf(s)(F.col("p")).alias("r")).collect()
    got = sorted((r["r"] is None, r["r"]["v"] if r["r"] is not None else None) for r in rows)
    assert got == [(False, 7), (True, None)]


def test_property_round_trip_random_records():
    """Hypothesis: encode∘decode is the identity for random records over
    the full supported type surface (ints at the int64 edges, unicode
    strings, unions, arrays, maps)."""
    from hypothesis import given, settings, strategies as st

    s = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "i", "type": "long"},
                {"name": "u", "type": ["null", "long"]},
                {"name": "t", "type": "string"},
                {"name": "d", "type": "double"},
                {"name": "a", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "string"}},
            ],
        }
    )
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)

    @settings(max_examples=200, deadline=None)
    @given(
        st.fixed_dictionaries(
            {
                "i": longs,
                "u": st.one_of(st.none(), longs),
                "t": st.text(max_size=80),
                "d": st.floats(allow_nan=False),  # NaN encodes as null by contract
                "a": st.lists(longs, max_size=8),
                "m": st.dictionaries(st.text(max_size=10), st.text(max_size=10), max_size=6),
            }
        )
    )
    def check(rec):
        assert decode_record(encode_record(rec, s), s) == rec

    check()


def test_dict_form_null_array_large_block_accepted():
    """The overlong-block guard must classify zero-byte item types by
    NORMALIZED schema, not string spelling: an array whose items are
    spelled {"type": "null"} (or an empty record) is zero bytes per
    item, so a conforming writer legitimately packs a huge count into a
    few bytes. The old string-only check ('items == "null"') applied
    the bytes-remaining bound and wrongly rejected such blocks as
    corrupt."""
    from callysto_spark.serde.avro_py import _zigzag, decode_record

    n = 200_000  # far beyond remaining+1 (~a dozen bytes)
    for items in ("null", {"type": "null"}, {"type": "record", "name": "E", "fields": []}):
        schema = {
            "type": "record",
            "name": "R",
            "fields": [{"name": "a", "type": {"type": "array", "items": items}}],
        }
        payload = bytes(_zigzag(n)) + bytes(_zigzag(0))  # one block of n, terminator
        rec = decode_record(payload, schema)
        assert len(rec["a"]) == n, f"items={items!r}"

    # the guard itself must still hold: zero-size blocks cap at 2^24 …
    import pytest

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": {"type": "null"}}}
        ],
    }
    with pytest.raises(ValueError, match="overlong avro array block"):
        decode_record(bytes(_zigzag(1 << 25)) + bytes(_zigzag(0)), schema)
    # … and NON-zero-size items keep the tight bytes-remaining bound
    schema["fields"][0]["type"]["items"] = "int"
    with pytest.raises(ValueError, match="overlong avro array block"):
        decode_record(bytes(_zigzag(200_000)) + bytes(_zigzag(0)), schema)

    # empty-RECORD items allocate a fresh ~64 B dict per item (null
    # items share one None), so the ~128 MB decoded-heap budget admits
    # 8x fewer of them: 2^27/64 = 2^21 is the boundary — 2^24 empty
    # dicts would be >1 GiB, exactly the OOM the budget exists to
    # prevent — while 300k (~20 MB) stays bounded
    schema["fields"][0]["type"]["items"] = {"type": "record", "name": "E", "fields": []}
    with pytest.raises(ValueError, match="overlong avro array block"):
        decode_record(bytes(_zigzag((1 << 21) + 1)) + bytes(_zigzag(0)), schema)
    rec = decode_record(bytes(_zigzag(300_000)) + bytes(_zigzag(0)), schema)
    assert len(rec["a"]) == 300_000 and rec["a"][0] == {}


def test_zero_size_budget_is_cumulative_and_field_aware():
    """Two holes a per-block, field-blind cap leaves open (r7 review):

    1. A per-block cap RE-ARMS every ~4 payload bytes — repeated
       varint(just-under-cap) blocks for an array-of-null allocate
       cap list slots per block without bound (a 40-byte payload could
       demand >1 GiB). The budget must accumulate across the array's
       blocks.
    2. A record whose fields are ALL zero-size classifies as fresh, but
       each decode costs ~100 B PER FIELD — 1000 null fields is ~100 KB
       per item, so a field-blind count cap admits tens of GB in one
       in-cap block. The per-item cost must scale with field count.
    """
    import pytest

    from callysto_spark.serde.avro_py import _zigzag, decode_record

    # (1) cumulative: 20 blocks x 2^23 nulls = 8 x the single-array
    # budget; each block alone (8 B x 2^23 = 64 MB) is admissible
    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": {"type": "array", "items": "null"}}],
    }
    payload = bytes(_zigzag(1 << 23)) * 20 + bytes(_zigzag(0))
    with pytest.raises(ValueError, match="overlong avro array block"):
        decode_record(payload, schema)
    # ...while the same total spread over a FRESH array per record field
    # is fine (the budget is per array, not per payload)
    ok = bytes(_zigzag(1 << 15)) + bytes(_zigzag(0))
    assert len(decode_record(ok, schema)["a"]) == 1 << 15

    # (2) field-aware: 1000 zero-size fields price at ~108 KB/item ->
    # budget admits ~1.2k items; a 10k block must be rejected even
    # though a field-blind 2^20 cap would wave it through
    wide = {
        "type": "record",
        "name": "W",
        "fields": [{"name": f"f{i}", "type": "null"} for i in range(1000)],
    }
    schema["fields"][0]["type"]["items"] = wide
    with pytest.raises(ValueError, match="overlong avro array block"):
        decode_record(bytes(_zigzag(10_000)) + bytes(_zigzag(0)), schema)
    rec = decode_record(bytes(_zigzag(100)) + bytes(_zigzag(0)), schema)
    assert len(rec["a"]) == 100 and rec["a"][0]["f999"] is None
