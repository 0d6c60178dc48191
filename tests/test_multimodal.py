"""Multimodal plumbing: binary columns through mapInPandas with stable
schema + deterministic fake features (real codecs stubbed — see
operators/multimodal.py)."""

from __future__ import annotations

import pytest

from callysto_spark.operators.multimodal import MEDIA_SCHEMA, extract_features


def _media_df(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", "image/png", 64, 64, None),
        (2, "audio", b"RIFF fake wav", "audio/wav", None, None, 1200),
        (3, "image", None, "image/png", 0, 0, None),  # null payload
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_fake_decoder_schema_and_determinism(spark):
    df = _media_df(spark)
    out1 = extract_features(df, dim=8).collect()
    out2 = extract_features(df, dim=8).collect()
    assert {r["media_id"] for r in out1} == {1, 2, 3}
    by_id = {r["media_id"]: r for r in out1}
    assert by_id[1]["n_bytes"] == len(b"\x89PNG fake bytes")
    assert by_id[3]["n_bytes"] == 0
    assert all(len(r["feature"]) == 8 for r in out1)
    # deterministic across runs (fake features are content-derived)
    assert sorted(map(str, out1)) == sorted(map(str, out2))


@pytest.mark.parametrize(
    "call, exc, match",
    [
        (lambda mm, df: mm.resize_media(df, 8, 8, decoder="PNG"), ValueError, "no codec library"),
        (lambda mm, df: mm.resize_media(df, 8, 8, decoder="stub"), ValueError, "no codec library"),
        # extract_features/sample_frames have one stand-in codec and no
        # decoder option: naming one fails at the call
        (lambda mm, df: mm.extract_features(df, decoder="png"), TypeError, "unexpected keyword"),
        (lambda mm, df: mm.extract_features(df, dim=4, decoder="stub"), TypeError, "unexpected keyword"),
        (lambda mm, df: mm.sample_frames(df, decoder="png"), TypeError, "unexpected keyword"),
    ],
    ids=["resize_PNG", "resize_stub", "features_png", "features_stub", "frames_png"],
)
def test_unimplemented_decoder_rejected_on_driver(spark, call, exc, match):
    """A decoder a function does not implement used to fall through to the
    sha256 stand-in and return fake bytes; it now fails before any plan
    runs (no collect needed)."""
    from callysto_spark.operators import multimodal

    with pytest.raises(exc, match=match):
        call(multimodal, _media_df(spark))


def test_resize_preserves_schema_and_composes(spark):
    from callysto_spark.operators.multimodal import resize_media

    df = _media_df(spark)
    resized = resize_media(df, 32, 32)
    assert resized.schema == df.schema  # media → media: composable
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows[1]["width"] == 32 and rows[1]["height"] == 32
    assert len(rows[1]["content"]) == 32 * 32
    # deterministic + composes with feature extraction downstream
    feats = extract_features(resize_media(df, 32, 32), dim=4).collect()
    assert {r["media_id"] for r in feats} == {1, 2, 3}


def test_frame_sampling_explodes_within_batches(spark):
    from callysto_spark.operators.multimodal import sample_frames

    df = _media_df(spark)
    frames = sample_frames(df, every_ms=300, max_frames=3).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    # audio row: 1200ms / 300ms = 4 → capped at 3 frames
    assert len(by_id[2]) == 3
    assert sorted(f["ts_ms"] for f in by_id[2]) == [0, 300, 600]
    # imagery / null payloads yield exactly one frame at ts 0
    assert len(by_id[1]) == 1 and by_id[1][0]["ts_ms"] == 0
    assert len(by_id[3]) == 1
    # frame payloads are deterministic content digests
    again = sample_frames(df, every_ms=300, max_frames=3).collect()
    assert sorted(map(str, frames)) == sorted(map(str, again))


def _make_wav(freq_hz: float, seconds: float, rate: int = 8000, amp: float = 0.5,
              channels: int = 1, sampwidth: int = 2) -> bytes:
    """Real PCM WAV bytes via the stdlib writer (no codec libs)."""
    import io
    import math
    import wave

    n = int(rate * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = amp * math.sin(2 * math.pi * freq_hz * i / rate)
            if sampwidth == 2:
                s = int(v * 32767)
                for _ in range(channels):
                    frames += s.to_bytes(2, "little", signed=True)
            else:  # 8-bit unsigned
                s = int(v * 127) + 128
                for _ in range(channels):
                    frames += bytes([s])
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_wav_features_real_decode(spark):
    """REAL audio decode: a 440 Hz sine at amplitude 0.5 must yield its
    true sample rate, duration, RMS ≈ 0.5/√2 and peak ≈ 0.5 — values
    only an actual PCM decode can produce."""
    from callysto_spark.operators.multimodal import wav_features

    rows = [
        (1, "audio", _make_wav(440, 1.0), "audio/wav", None, None, 1000),
        (2, "audio", _make_wav(880, 0.5, channels=2), "audio/wav", None, None, 500),
        (3, "audio", _make_wav(220, 0.25, sampwidth=1), "audio/wav", None, None, 250),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in wav_features(media, dim=8).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["n_samples"] == 8000
    assert got[1]["duration_ms"] == 1000
    assert abs(got[1]["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(got[1]["peak"] - 0.5) < 0.01
    assert len(got[1]["envelope"]) == 8
    # a sine's mean-abs envelope is flat at 2A/π across segments
    env = got[1]["envelope"]
    assert all(abs(e - 2 * 0.5 / 3.14159) < 0.02 for e in env)
    assert got[2]["n_channels"] == 2 and got[2]["duration_ms"] == 500
    assert got[3]["duration_ms"] == 250  # 8-bit path


def test_audio_segments_real_slicing(spark):
    """Real 1→N PCM slicing: a 2 s clip at 250 ms periods must produce 8
    standalone WAV segments of 2000 samples each, and every segment must
    itself re-decode (round-trippable WAV bytes)."""
    from callysto_spark.operators.multimodal import _decode_wav, audio_segments

    media = spark.createDataFrame(
        [(7, "audio", _make_wav(440, 2.0), "audio/wav", None, None, 2000)], MEDIA_SCHEMA
    )
    segs = audio_segments(media, every_ms=250).orderBy("segment_idx").collect()
    assert len(segs) == 8
    assert [s["segment_idx"] for s in segs] == list(range(8))
    assert all(s["n_samples"] == 2000 for s in segs)
    assert segs[3]["ts_ms"] == 750
    fr, nch, x = _decode_wav(segs[0]["content"])
    assert fr == 8000 and nch == 1 and len(x) == 2000


def test_audio_segments_cap(spark):
    from callysto_spark.operators.multimodal import audio_segments

    media = spark.createDataFrame(
        [(9, "audio", _make_wav(100, 3.0), "audio/wav", None, None, 3000)], MEDIA_SCHEMA
    )
    segs = audio_segments(media, every_ms=100, max_segments=5).collect()
    assert len(segs) == 5


def test_png_codec_round_trip():
    """encode→decode identity on random RGB/RGBA/grey images."""
    import numpy as np

    from callysto_spark.operators.png_py import decode_png, encode_png

    rng = np.random.RandomState(3)
    for ch in (1, 2, 3, 4):
        arr = rng.randint(0, 256, size=(13, 17, ch), dtype=np.uint8)
        out = decode_png(encode_png(arr))
        assert out.shape == (13, 17, ch)
        assert (out == arr).all()


def test_png_decode_all_filter_types():
    """Hand-built IDAT exercising filters Sub/Up/Average/Paeth: the
    unfiltered pixels must match the spec recurrences computed by an
    independent reference implementation."""
    import struct
    import zlib

    import numpy as np

    from callysto_spark.operators.png_py import decode_png

    w, h, ch = 4, 5, 3
    rng = np.random.RandomState(9)
    raw_rows = [rng.randint(0, 256, size=w * ch).astype(np.int64) for _ in range(h)]

    # reference decode state
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    filters = [0, 1, 2, 3, 4]
    recon = []
    stream = bytearray()
    for y, f in enumerate(filters):
        line = raw_rows[y]
        prev = recon[y - 1] if y else np.zeros(w * ch, dtype=np.int64)
        cur = np.zeros(w * ch, dtype=np.int64)
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[f]
            cur[i] = (line[i] + pred) % 256
        recon.append(cur)
        stream.append(f)
        stream.extend(int(v) for v in line % 256)

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )
    got = decode_png(png)
    want = np.stack(recon).reshape(h, w, ch).astype(np.uint8)
    assert (got == want).all()


def test_resize_media_png_real(spark):
    """decoder='png' must really resample: a 2x2 checkerboard scaled to
    8x8 keeps exact quadrant colors (nearest neighbor), and the output
    payload is a valid PNG of the target size."""
    import numpy as np

    from callysto_spark.operators.multimodal import resize_media
    from callysto_spark.operators.png_py import decode_png, encode_png

    checker = np.zeros((2, 2, 3), dtype=np.uint8)
    checker[0, 1] = checker[1, 0] = 255
    media = spark.createDataFrame(
        [(1, "image", encode_png(checker), "image/png", 2, 2, None)], MEDIA_SCHEMA
    )
    out = resize_media(media, 8, 8, decoder="png").collect()[0]
    assert out["width"] == 8 and out["height"] == 8
    arr = decode_png(out["content"])
    assert arr.shape == (8, 8, 3)
    assert (arr[:4, :4] == 0).all() and (arr[:4, 4:] == 255).all()
    assert (arr[4:, :4] == 255).all() and (arr[4:, 4:] == 0).all()


def test_png_features_real(spark):
    """Real PNG feature extraction: known half-black/half-white image →
    mean 0.5, luma grid split exactly."""
    import numpy as np

    from callysto_spark.operators.multimodal import png_features
    from callysto_spark.operators.png_py import encode_png

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, 4:] = 255
    media = spark.createDataFrame(
        [(5, "image", encode_png(img), "image/png", 8, 8, None)], MEDIA_SCHEMA
    )
    row = png_features(media, grid=2).collect()[0]
    assert row["width"] == 8 and row["height"] == 8 and row["channels"] == 3
    assert abs(row["mean"] - 0.5) < 1e-9
    assert row["luma"] == [0.0, 1.0, 0.0, 1.0]


def test_resize_media_png_on_error_skip(spark):
    """One NULL or corrupt PNG payload must cost one row under
    on_error='skip' — not the whole mapInPandas task (r7 review; the
    posture wav_features/png_features already had)."""
    import pytest

    from callysto_spark.operators.multimodal import resize_media
    from callysto_spark.operators.png_py import encode_png
    import numpy as np

    good = encode_png(np.zeros((4, 4, 1), dtype=np.uint8))
    media = spark.createDataFrame(
        [
            (1, "image", good, "image/png", 4, 4, None),
            (2, "image", None, "image/png", 4, 4, None),
            (3, "image", b"not a png", "image/png", 4, 4, None),
        ],
        "media_id long, kind string, content binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = resize_media(media, 2, 2, decoder="png", on_error="skip").collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["width"] == 2 and out[0]["height"] == 2

    with pytest.raises(Exception):
        resize_media(media, 2, 2, decoder="png").collect()  # default: fail


def test_sample_frames_rejects_zero_period(spark):
    """every_ms=0 used to ZeroDivisionError inside the executor task;
    it now fails on the driver with a located message."""
    import pytest

    from callysto_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, b"x", 1, 1, 5000)],
        "media_id long, content binary, width int, height int, duration_ms int",
    )
    with pytest.raises(ValueError, match="every_ms must be >= 1"):
        sample_frames(media, every_ms=0)
