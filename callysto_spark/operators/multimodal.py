"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed with Arrow-batched ``mapInPandas``.

Design for 100 TB: the binary payload never leaves the executor, flows
Arrow-batched into Python exactly once per operator, and the decode/
transform emits fixed-schema columns so downstream stays relational.
Partitioning discipline: media rows are large → size partitions by
``spark.sql.files.maxPartitionBytes``, never groupBy on raw bytes (hash
the metadata key instead).

Codec status by modality:

- **audio/WAV is REAL and dependency-free**: ``wav_features`` /
  ``audio_segments`` decode PCM WAV with the stdlib ``wave`` module +
  numpy — actual sample rates, durations, RMS/peak, amplitude
  envelopes, and real PCM slicing, runnable in any Python environment.
- **image/PNG is REAL and dependency-free**: ``png_features`` and
  ``resize_media(decoder='png')`` run on the stdlib-zlib PNG codec in
  ``operators/png_py.py`` (all five scanline filters on decode,
  nearest-neighbor resample, valid re-encode).
- JPEG/video codec libraries (PIL/ffmpeg) are NOT in this build:
  ``extract_features``, ``sample_frames`` and ``resize_media``'s
  ``decoder='fake'`` derive deterministic pseudo-features from the
  bytes so the Spark-side plumbing (schema, batch shape, partitioning)
  is fully testable. ``resize_media`` rejects any other decoder
  (``'stub'`` included) with ValueError on the driver.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary, mime string, width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, digest string, feature array<float>"


def _check_on_error(on_error: str) -> None:
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")


def _fake_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-embedding: sha256-seeded floats in [0,1).
    Stands in for a real encoder; stable across runs/engines."""
    out: list[float] = []
    seed = payload or b"\x00"
    counter = 0
    while len(out) < dim:
        h = hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in h)
        counter += 1
    return [float(x) for x in out[:dim]]


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """binary media column → fixed-dim feature vectors via mapInPandas.

    The features are deterministic sha256-derived stand-ins for plumbing
    tests: no image/video codec library is in this build (real decodes
    are ``wav_features`` and ``png_features``).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0).astype("int32"),
                    "digest": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda b: _fake_features(b or b"", dim)),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    decoder: str = "fake",
    on_error: str = "raise",
) -> DataFrame:
    """Resize the image payloads, preserving the media schema (1→1 rows).

    ``decoder='png'`` is a REAL dependency-free codec path: stdlib-zlib
    PNG decode → nearest-neighbor resample → PNG re-encode
    (``operators/png_py.py``). Formats needing PIL (JPEG etc) have no
    decoder in this build; 'fake' emits a
    deterministic payload of the target dimensions' byte budget so
    batch shape and schema round-trip is testable. Output schema ==
    input MEDIA_SCHEMA with width/height updated — resize composes with
    any downstream media operator.

    ``on_error='skip'`` drops rows whose payload fails to decode
    (NULL content, corrupt PNG) — the 100 TB posture shared with
    wav_features/png_features: one corrupt blob costs one row, not the
    job.
    """
    _check_on_error(on_error)
    if decoder not in ("fake", "png"):
        # reject on the driver: it would otherwise fall through to the
        # sha256 stand-in
        raise ValueError(
            f"decoder {decoder!r} is unavailable: no codec library for it is in "
            "this build (supported: 'fake', 'png')"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "png":
                from callysto_spark.operators.png_py import (
                    decode_png,
                    encode_png,
                    resize_nearest,
                )

                # per-row error boundary (the wav_features pattern): a
                # NULL or corrupt payload costs its row under 'skip',
                # never the whole mapInPandas task
                resized: list[bytes] = []
                keep: list[bool] = []
                for b in pdf["content"]:
                    try:
                        resized.append(
                            encode_png(resize_nearest(decode_png(b), width, height))
                        )
                        keep.append(True)
                    except (ValueError, TypeError):
                        if on_error == "skip":
                            keep.append(False)
                        else:
                            raise
                out = pdf.loc[keep].copy()
                out["content"] = resized
            else:
                out = pdf.copy()

                def fake_resize(b: bytes | None) -> bytes:
                    # deterministic stand-in sized ~ w*h: digest-tiled bytes
                    seed = hashlib.sha256((b or b"") + f"{width}x{height}".encode()).digest()
                    need = min(width * height, 4096)
                    return (seed * (need // len(seed) + 1))[:need]

                out["content"] = pdf["content"].map(fake_resize)
            if len(out) == 0:
                continue  # all-skipped batch: empty-frame dtypes break Arrow
            out["width"] = width
            out["height"] = height
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms int, content binary, width int, height int"


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 32,
) -> DataFrame:
    """Sample frames from video/audio payloads at a fixed period
    (1→N row expansion inside the Arrow batch — the frame table stays
    distributed; no driver involvement, no shuffle).

    No ffmpeg is in this build, so it derives ``duration_ms/every_ms``
    deterministic frames per row (capped at ``max_frames``), so the
    exploding batch shape, schema, and cap are all testable. Rows with
    no duration (e.g. still images) yield one frame at ts 0.
    """
    if every_ms < 1:
        # validate on the DRIVER: every_ms=0 would ZeroDivisionError
        # inside a mapInPandas worker with an opaque executor traceback
        raise ValueError(f"sample_frames every_ms must be >= 1, got {every_ms}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("media_id", "frame_idx", "ts_ms", "content", "width", "height")}
            for _, row in pdf.iterrows():
                dur = row["duration_ms"]
                n = 1 if dur is None or pd.isna(dur) else max(1, min(int(dur) // every_ms, max_frames))
                for i in range(n):
                    ts = i * every_ms
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(ts)
                    out["content"].append(
                        hashlib.sha256((row["content"] or b"") + ts.to_bytes(8, "big")).digest()
                    )
                    out["width"].append(row["width"])
                    out["height"].append(row["height"])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


WAV_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples int, "
    "duration_ms int, rms double, peak double, envelope array<float>"
)


def _decode_wav(payload: bytes):
    """bytes → (sample_rate, n_channels, mono float64 samples in [-1,1]).

    Pure stdlib: ``wave`` parses the RIFF container, numpy converts the
    PCM frames. Supports 8/16/32-bit integer PCM (the wave module's
    surface); multi-channel audio is mean-downmixed to mono.
    """
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            nch, sw, fr, nf = w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
            pcm = w.readframes(nf)
    except (wave.Error, EOFError, struct.error) as exc:
        # corruption contract (fuzz-tested): malformed RIFF/fmt headers
        # raise ValueError like every other malformed-input path, never
        # a module-specific error an executor-side caller won't expect
        raise ValueError(f"malformed WAV payload: {exc}") from exc
    if nch <= 0:
        raise ValueError("malformed WAV payload: zero channels")
    if len(pcm) % (sw * nch):  # truncated final frame
        pcm = pcm[: len(pcm) - len(pcm) % (sw * nch)]
    if sw == 2:
        x = np.frombuffer(pcm, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(pcm, dtype="u1").astype(np.float64) - 128.0) / 128.0
    elif sw == 4:
        x = np.frombuffer(pcm, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width: {sw}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return fr, nch, x


def wav_features(media: DataFrame, dim: int = 16, on_error: str = "raise") -> DataFrame:
    """REAL audio decode + feature extraction for PCM WAV payloads —
    no external codec, runnable anywhere (stdlib ``wave`` + numpy).

    Emits per-row: sample rate, channel count, sample count, duration,
    RMS energy, peak amplitude, and a fixed-``dim`` mean-absolute
    amplitude envelope (the downsampled loudness contour — the audio
    analog of a thumbnail). One Arrow crossing; bytes never hit the
    driver; output is fixed-schema relational columns.

    ``on_error='skip'`` drops rows whose payload fails to decode
    (malformed/NULL bytes) instead of failing the task — the 100 TB
    posture where one corrupt blob costs one row, not the job.
    """
    import numpy as np

    _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "sample_rate", "n_channels", "n_samples",
                    "duration_ms", "rms", "peak", "envelope",
                )
            }
            for _, row in pdf.iterrows():
                try:
                    fr, nch, x = _decode_wav(row["content"])
                except (ValueError, TypeError):
                    if on_error == "skip":
                        continue
                    raise
                n = len(x)
                rows["media_id"].append(row["media_id"])
                rows["sample_rate"].append(fr)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(n)
                rows["duration_ms"].append(int(n * 1000 / fr) if fr else 0)
                rows["rms"].append(float(np.sqrt(np.mean(x**2))) if n else 0.0)
                rows["peak"].append(float(np.max(np.abs(x))) if n else 0.0)
                segs = np.array_split(np.abs(x), dim) if n else [np.zeros(0)] * dim
                rows["envelope"].append(
                    [float(s.mean()) if len(s) else 0.0 for s in segs]
                )
            if rows["media_id"]:  # an all-skipped batch yields nothing —
                # an EMPTY pandas frame defaults columns to float64,
                # which Arrow cannot cast to array<float>
                yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=WAV_FEATURE_SCHEMA)


AUDIO_SEGMENT_SCHEMA = (
    "media_id long, segment_idx int, ts_ms int, content binary, sample_rate int, n_samples int"
)


def audio_segments(
    media: DataFrame, every_ms: int = 1000, max_segments: int = 32, on_error: str = "raise"
) -> DataFrame:
    """REAL audio frame-sampling: slice WAV payloads into fixed-period
    PCM segments, each re-encoded as a standalone WAV (1→N row
    expansion inside the Arrow batch — distributed, no shuffle, no
    driver involvement). The audio counterpart of ``sample_frames``,
    with an actual codec instead of a seam.

    ``on_error='skip'`` drops undecodable payloads (see wav_features).
    """
    import io
    import wave as wave_mod

    import numpy as np

    _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in ("media_id", "segment_idx", "ts_ms", "content", "sample_rate", "n_samples")
            }
            for _, row in pdf.iterrows():
                try:
                    fr, _nch, x = _decode_wav(row["content"])
                except (ValueError, TypeError):
                    if on_error == "skip":
                        continue
                    raise
                step = max(1, int(fr * every_ms / 1000))
                n_seg = max(1, min((len(x) + step - 1) // step, max_segments))
                for i in range(n_seg):
                    seg = x[i * step : (i + 1) * step]
                    pcm = (np.clip(seg, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
                    buf = io.BytesIO()
                    with wave_mod.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(fr)
                        w.writeframes(pcm)
                    out["media_id"].append(row["media_id"])
                    out["segment_idx"].append(i)
                    out["ts_ms"].append(int(i * every_ms))
                    out["content"].append(buf.getvalue())
                    out["sample_rate"].append(fr)
                    out["n_samples"].append(len(seg))
            if out["media_id"]:  # see wav_features: no empty-frame yield
                yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=AUDIO_SEGMENT_SCHEMA)


PNG_FEATURE_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "mean double, std double, luma array<float>"
)


def png_features(media: DataFrame, grid: int = 4, on_error: str = "raise") -> DataFrame:
    """REAL image decode + feature extraction for PNG payloads —
    dependency-free (stdlib zlib codec, ``operators/png_py.py``).

    Emits true dimensions/channel counts, global pixel mean/std, and a
    ``grid×grid`` average-pooled luminance thumbnail (flattened
    row-major) — the image analog of ``wav_features``' envelope. One
    Arrow crossing, bytes stay on the executor.

    ``on_error='skip'`` drops undecodable payloads (see wav_features).
    """
    import numpy as np

    from callysto_spark.operators.png_py import decode_png, resize_nearest

    _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: [] for k in ("media_id", "width", "height", "channels", "mean", "std", "luma")
            }
            for _, row in pdf.iterrows():
                try:
                    arr = decode_png(row["content"])
                except (ValueError, TypeError):
                    if on_error == "skip":
                        continue
                    raise
                h, w, ch = arr.shape
                x = arr.astype(np.float64) / 255.0
                # luminance: mean over color channels (alpha excluded)
                color = x[:, :, : 3 if ch >= 3 else 1]
                luma = color.mean(axis=2)
                # TRUE average pool (the documented contract, and the
                # analog of wav_features' segment-MEAN envelope): each
                # cell is the mean of its block. Nearest-neighbor
                # point-sampling here would make the 'thumbnail'
                # reflect one arbitrary pixel per cell — noise-
                # sensitive in exactly the way a pooled feature isn't.
                pooled = np.array(
                    [
                        [float(cell.mean()) if cell.size else 0.0 for cell in np.array_split(band, grid, axis=1)]
                        for band in np.array_split(luma, grid, axis=0)
                    ]
                )
                rows["media_id"].append(row["media_id"])
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(ch)
                rows["mean"].append(float(x.mean()))
                rows["std"].append(float(x.std()))
                rows["luma"].append([float(v) for v in pooled.reshape(-1)])
            if rows["media_id"]:  # see wav_features: no empty-frame yield
                yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=PNG_FEATURE_SCHEMA)
