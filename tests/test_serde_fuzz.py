"""Binary-codec corruption fuzz: Avro payloads and PNG/WAV media bytes
under deterministic corruption (round-5 VERDICT item 4 — the one
adversarial surface the six relational fuzz sweeps don't cover).

Contract pinned here, mirrored from the reference's per-record error
wrapping (callysto-avro/src/avro.rs:31-74 yields AvroResult per record):

- ``decode_record`` / ``decode_png`` / ``_decode_wav`` raise ValueError
  on ANY malformed input — never IndexError / struct.error / zlib.error
  / wave.Error / OverflowError, never a silent wrong-branch decode
  (negative union/enum indexes must not wrap), and never unbounded
  memory (bogus 2^50 array-block counts, zlib bombs behind corrupted
  IHDR dims).
- Through Spark, ``decode_avro(mode='permissive')`` turns each bad
  record into a NULL struct (one corrupt Kafka message costs one row,
  not the job — matching spark-avro's option of the same name), and
  the media feature ops' ``on_error='skip'`` drops undecodable blobs.

Corruption masks are crc32-deterministic; failures reproduce exactly.
"""

from __future__ import annotations

import io
import json
import struct
import wave
import zlib

import numpy as np
import pytest

from callysto_spark.serde.avro_py import decode_record, encode_record

FUZZ_SCHEMA = {
    "type": "record",
    "name": "FuzzMsg",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "score", "type": ["null", "double"]},
        {"name": "name", "type": ["null", "string"]},
        {"name": "blob", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
        {"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B", "C"]}},
        {"name": "ok", "type": "boolean"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

ALLOWED = (ValueError,)  # the ONLY exception a malformed payload may raise



pytestmark = pytest.mark.slow  # gated: see pytest.ini / conftest (r16 verify-budget fix)

def _record(i: int) -> dict:
    import datetime as dt

    return {
        "id": i * 7919,
        "score": None if i % 5 == 0 else i * 0.125,
        "name": None if i % 7 == 0 else f"msg-{i}-α",
        "blob": bytes([i % 256, (i * 3) % 256]),
        "tags": list(range(i % 4)),
        "attrs": {f"k{j}": f"v{i}-{j}" for j in range(i % 3)},
        "kind": "ABC"[i % 3],
        "ok": bool(i % 2),
        "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
    }


def _corrupt(payload: bytes, seed: int) -> bytes:
    """Deterministic corruption keyed on crc32(seed)."""
    h = zlib.crc32(str(seed).encode())
    kind = h % 6
    if not payload:
        return b"\x80"
    pos = (h >> 3) % len(payload)
    if kind == 0:  # truncate
        return payload[: pos or 1]
    if kind == 1:  # flip one byte
        return payload[:pos] + bytes([payload[pos] ^ (1 + (h >> 11) % 255)]) + payload[pos + 1 :]
    if kind == 2:  # splice an overlong-varint run
        return payload[:pos] + b"\x80" * 12 + payload[pos:]
    if kind == 3:  # overwrite with a huge block-count varint (zigzag 2^50)
        return payload[:pos] + b"\x80\x80\x80\x80\x80\x80\x80\x04" + payload[pos + 1 :]
    if kind == 4:  # zero a run of bytes
        return payload[:pos] + b"\x00" * min(4, len(payload) - pos) + payload[pos + 4 :]
    return payload[pos:] + payload[:pos]  # rotate


def test_avro_roundtrip_seed_corpus_intact():
    # sanity: the uncorrupted corpus round-trips exactly
    for i in range(50):
        rec = _record(i)
        out = decode_record(encode_record(rec, FUZZ_SCHEMA), FUZZ_SCHEMA)
        assert out["id"] == rec["id"] and out["kind"] == rec["kind"]
        assert out["tags"] == rec["tags"] and out["attrs"] == rec["attrs"]


def test_avro_fuzz_decode_never_crashes():
    for i in range(400):
        payload = _corrupt(encode_record(_record(i % 60), FUZZ_SCHEMA), i)
        try:
            decode_record(payload, FUZZ_SCHEMA)
        except ALLOWED:
            pass  # clean, expected failure mode


@pytest.mark.parametrize(
    "label,payload",
    [
        ("empty", b""),
        ("truncated varint", b"\x80\x80"),
        ("overlong varint", b"\x80" * 11 + b"\x00"),
        # id=0 then union index 9 (zigzag 18 = 0x24... actually zigzag(9)=18=0x12)
        ("bad union index", b"\x00" + b"\x12"),
        # id=0 then union index -1 (zigzag(-1)=1) — must NOT wrap to branch[-1]
        ("negative union index", b"\x00" + b"\x01"),
        ("garbage", b"\xff" * 32),
    ],
)
def test_avro_crafted_corruptions_raise_value_error(label, payload):
    with pytest.raises(ALLOWED):
        decode_record(payload, FUZZ_SCHEMA)


def test_avro_huge_block_count_rejected_without_materializing():
    # array<long> claiming 2^50 items in a 20-byte payload: the decoder
    # must reject by bound-vs-remaining, not try to build the list
    base = {"type": "record", "name": "R", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    huge = (1 << 50) << 1  # zigzag encoding of +2^50
    var = bytearray()
    while True:
        b = huge & 0x7F
        huge >>= 7
        if huge:
            var.append(b | 0x80)
        else:
            var.append(b)
            break
    with pytest.raises(ALLOWED):
        decode_record(bytes(var) + b"\x02\x02\x02", base)


def test_avro_bad_enum_index_raises():
    base = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": {"type": "enum", "name": "K", "symbols": ["X", "Y"]}}]}
    for enc in (b"\x08", b"\x01"):  # index 4 (out of range), index -1 (wrap)
        with pytest.raises(ALLOWED):
            decode_record(enc, base)


# ------------------------------------------------------ Spark crossing
def _payload_df(spark, n=120):
    schema_json = json.dumps(FUZZ_SCHEMA)
    rows = []
    for i in range(n):
        p = encode_record(_record(i), FUZZ_SCHEMA)
        corrupt = zlib.crc32(f"row{i}".encode()) % 5 == 0  # ~20%
        rows.append((i, bytes(_corrupt(p, i)) if corrupt else p, corrupt))
    return spark.createDataFrame(rows, "rid long, payload binary, corrupt boolean"), schema_json


def test_avro_permissive_mode_nulls_bad_records(spark):
    from pyspark.sql import functions as F

    from callysto_spark.serde.avro import decode_avro

    df, schema_json = _payload_df(spark)
    out = df.select(
        "rid", "corrupt", decode_avro("payload", schema_json, mode="permissive").alias("r")
    ).collect()
    for row in out:
        if row["corrupt"]:
            # all-null-fields struct (spark-avro's nullResultRow) OR a
            # still-decodable mutation — but never an exception, and
            # never a NULL row (that is the tombstone signature)
            assert row["r"] is not None
            continue
        assert row["r"] is not None, f"valid row {row['rid']} decoded to NULL"
        assert row["r"]["id"] == row["rid"] * 7919
    # at least one corrupted row must actually have been nulled
    nulled = [
        r for r in out
        if r["corrupt"] and r["r"] is not None and all(v is None for v in r["r"])
    ]
    assert nulled, "no corrupted record was nulled — corruption mask too weak"


def test_avro_failfast_mode_fails_the_job(spark):
    from callysto_spark.serde.avro import decode_avro

    df, schema_json = _payload_df(spark)
    with pytest.raises(Exception) as err:
        df.select(decode_avro("payload", schema_json, mode="failfast").alias("r")).collect()
    assert "avro" in str(err.value).lower() or "ValueError" in str(err.value)


# ------------------------------------------------------------ PNG / WAV
def _png_bytes(i: int) -> bytes:
    from callysto_spark.operators.png_py import encode_png

    rng = np.random.default_rng(i)
    ch = (1, 2, 3, 4)[i % 4]
    arr = rng.integers(0, 256, size=(6 + i % 5, 7 + i % 3, ch), dtype=np.uint8)
    return encode_png(arr)


def test_png_fuzz_decode_never_crashes():
    from callysto_spark.operators.png_py import decode_png

    for i in range(300):
        data = _corrupt(_png_bytes(i % 40), i)
        try:
            out = decode_png(data)
            assert out.dtype == np.uint8 and out.ndim == 3
        except ALLOWED:
            pass


def test_png_bomb_dimensions_rejected_cheaply():
    from callysto_spark.operators.png_py import _SIGNATURE, decode_png

    # IHDR claiming 60000x60000 RGBA backed by a tiny zlib bomb: the
    # dimension cap must reject BEFORE any decompression happens
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 6, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
    bomb = zlib.compress(b"\x00" * 100000, 9)
    idat = struct.pack(">I", len(bomb)) + b"IDAT" + bomb + b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="too large"):
        decode_png(_SIGNATURE + chunk + idat)


def test_png_declared_vs_actual_scanline_mismatch():
    from callysto_spark.operators.png_py import _SIGNATURE, decode_png

    # valid-looking IHDR (4x4 grey) whose IDAT inflates to the wrong size
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
    raw = zlib.compress(b"\x00" * 7)  # needs 4*(4+1)=20 bytes
    idat = struct.pack(">I", len(raw)) + b"IDAT" + raw + b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="mismatch"):
        decode_png(_SIGNATURE + chunk + idat)


def _wav_bytes(i: int) -> bytes:
    rng = np.random.default_rng(1000 + i)
    pcm = (rng.standard_normal(400 + i * 13) * 8000).astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1 + i % 2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm if i % 2 == 0 else pcm + pcm)
    return buf.getvalue()


def test_wav_fuzz_decode_never_crashes():
    from callysto_spark.operators.multimodal import _decode_wav

    for i in range(300):
        data = _corrupt(_wav_bytes(i % 30), i)
        try:
            fr, nch, x = _decode_wav(data)
            assert fr >= 0 and nch >= 1
        except ALLOWED:
            pass


def test_media_on_error_skip_contract(spark):
    from callysto_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_segments,
        png_features,
        wav_features,
    )

    rows = [
        (1, "image", _png_bytes(1), "image/png", None, None, None),
        (2, "image", _corrupt(_png_bytes(2), 2)[:10], "image/png", None, None, None),
        (3, "image", None, "image/png", None, None, None),
        (4, "audio", _wav_bytes(1), "audio/wav", None, None, None),
        (5, "audio", b"RIFFgarbage", "audio/wav", None, None, None),
        (6, "audio", None, "audio/wav", None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    imgs = df.filter("kind = 'image'")
    auds = df.filter("kind = 'audio'")
    assert {r["media_id"] for r in png_features(imgs, on_error="skip").collect()} == {1}
    assert {r["media_id"] for r in wav_features(auds, on_error="skip").collect()} == {4}
    assert {r["media_id"] for r in audio_segments(auds, on_error="skip").collect()} == {4}
    # default stays strict: the corrupt payload fails the job
    with pytest.raises(Exception):
        png_features(imgs).collect()
    with pytest.raises(Exception):
        wav_features(auds).collect()


def test_permissive_decode_through_agent_loop(spark, tmp_path):
    """End-to-end consume→decode parity with the reference's Avro agent
    loop (callysto-avro avro.rs: every record decode yields AvroResult,
    the loop continues past bad messages): a memtopic topic carrying
    ~25% corrupted Avro payloads drained through an App agent with
    mode='permissive' — every valid record lands, every corrupt one
    becomes a NULL struct, and the query never fails."""
    from pyspark.sql import functions as F

    from callysto_spark.app import App
    from callysto_spark.serde.avro import decode_avro
    from callysto_spark.sources import SourceSpec
    from callysto_spark.sources.memtopic import produce

    import base64

    schema_json = json.dumps(FUZZ_SCHEMA)
    broker = str(tmp_path / "broker")
    msgs, expect_good = [], set()
    for i in range(80):
        payload = encode_record(_record(i), FUZZ_SCHEMA)
        if zlib.crc32(f"agent{i}".encode()) % 4 == 0:
            payload = _corrupt(payload, i)
        else:
            expect_good.add(i * 7919)
        # memtopic values are strings; base64 is the binary transport shim
        msgs.append((f"k{i % 3}", base64.b64encode(payload).decode("ascii")))
    produce(broker, "avro_in", msgs, n_partitions=4)

    got = {"ids": set(), "nulls": 0, "rows": 0}
    app = App("avro_perm", spark=spark, checkpoint_root=str(tmp_path / "ckpt"))
    src = SourceSpec.memtopic("avro_in", broker, partitions=4)

    @app.agent("decoder", src)
    def decoder(df, ctx):
        out = df.select(
            decode_avro(F.unbase64("value"), schema_json, mode="permissive").alias("r")
        ).collect()
        got["rows"] += len(out)
        for row in out:
            # corrupt record = all-null-fields struct (nullResultRow);
            # a NULL ROW would mean a tombstone, which this topic has none of
            assert row["r"] is not None
            if row["r"]["id"] is None:
                got["nulls"] += 1
            else:
                got["ids"].add(row["r"]["id"])

    app.run(await_termination=True, timeout=120)
    app.stop()
    assert got["rows"] == 80, "every message must flow through, corrupt or not"
    # ids of records whose corruption left a decodable payload may appear
    # too — but every UNcorrupted record must have arrived intact
    assert expect_good <= got["ids"], f"lost valid records: {sorted(expect_good - got['ids'])[:5]}"
    assert got["nulls"] >= 1, "corruption mask produced no undecodable payload"
