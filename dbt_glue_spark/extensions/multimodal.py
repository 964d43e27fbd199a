"""Multimodal column plumbing: image/audio/video as opaque binary columns.

IMAGE DECODE IS REAL for PNG: a pure-stdlib (zlib + struct) decoder
handles non-interlaced 8-bit grayscale/RGB/RGBA with all five scanline
filters, and image features (dimensions, channel count, luminance
mean/stddev/histogram) are computed from actual pixels.
AUDIO DECODE IS REAL for WAV: stdlib ``wave`` decodes 16-bit PCM and
audio features (sample count/rate, RMS, peak, zero-crossings) come from
actual samples. VIDEO DECODE IS REAL for the PNGV container (a
length-prefixed sequence of PNG frames — the motion-JPEG idea with the
one codec this environment can actually decode): frame count, fps,
dimensions, per-channel frame means, and sampled-frame pixel stats come
from actually decoded frames. Compressed video codecs (H.264 etc.)
remain out of scope — no codec libraries in this container — and raise
``DecodeUnavailable``; swapping in PyAV/ffmpeg for those changes one
function body (``video_decode``), not the plan: schemas, Arrow-batched
pandas UDF signatures, ``mapInPandas`` streaming iteration (bounded
memory per batch), and partition sizing are identical.

Scale notes: media bytes dominate row size, so `spark.sql.files.
maxPartitionBytes` should be raised (512 MB+) and the decode stage must
never shuffle raw bytes — all functions here keep binary columns out of
wide transformations; derived features (small, fixed-width) are what flows
into joins/aggregations downstream.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dbt_glue_spark.session import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("content_sha", StringType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


class DecodeUnavailable(NotImplementedError):
    """Raised by the real decode path: media codecs are not installed."""


def _fake_feature(data: bytes | None, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector: bytes of
    sha256 scaled to [-1, 1]. Replaced by a real model/codec in production."""
    if data is None:
        return [0.0] * dim
    h = hashlib.sha256(data).digest()
    return [h[i] / 127.5 - 1.0 for i in range(dim)]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a non-interlaced 8-bit PNG (gray/RGB/RGBA) with stdlib only.

    Returns (width, height, channels, pixels) with pixels in row-major
    scanline order, ``width * height * channels`` bytes. Implements the
    full filter set (None/Sub/Up/Average/Paeth, PNG spec §9). Raises
    ``DecodeUnavailable`` for non-PNG bytes or unsupported PNG variants
    (16-bit, palette, interlaced) — callers fall back to opaque features.
    """
    if len(data) < 8 or data[:8] != _PNG_SIG:
        raise DecodeUnavailable("not a PNG stream")
    pos, idat, dims = 8, bytearray(), None
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + payload + crc
        if typ == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or interlace != 0 or color_type not in (0, 2, 6):
                raise DecodeUnavailable(
                    f"unsupported PNG (depth={depth} color={color_type} "
                    f"interlace={interlace})"
                )
            dims = (w, h, {0: 1, 2: 3, 6: 4}[color_type])
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if dims is None or not idat:
        raise DecodeUnavailable("missing IHDR/IDAT")
    w, h, ch = dims
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise DecodeUnavailable("scanline payload size mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise DecodeUnavailable(f"unknown PNG filter {f}")
        out += line
        prev = line
    return w, h, ch, bytes(out)


def png_encode(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Encode raw row-major pixels as a minimal PNG (filter 0, one IDAT).
    Used by ``synth_media_table`` so tests exercise the REAL decoder."""
    color_type = {1: 0, 3: 2, 4: 6}[channels]

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[r * stride : (r + 1) * stride] for r in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def decode_image(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode image bytes → (width, height, channels, pixels). PNG is
    decoded for real (stdlib zlib); other formats raise
    ``DecodeUnavailable`` (their codecs aren't in this environment)."""
    return png_decode(data)


def image_features(data: bytes, dim: int = 8) -> list[float]:
    """Real image feature vector from decoded pixels:
    [width, height, channels, lum_mean/255, lum_std/255, hist_low,
    hist_mid, hist_high] — luminance histogram thirds as fractions.
    Falls back to ``_fake_feature`` for undecodable content so mixed
    media batches never fail the job."""
    import numpy as np

    try:
        w, h, ch, px = decode_image(data)
    except DecodeUnavailable:
        return _fake_feature(data, dim)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h * w, ch).astype(np.float64)
    # ITU-R BT.601 luma for RGB(A); grayscale passes through
    lum = arr[:, 0] if ch == 1 else (
        0.299 * arr[:, 0] + 0.587 * arr[:, 1] + 0.114 * arr[:, 2]
    )
    n = float(lum.size)
    hist = [
        float((lum < 85.0).sum()) / n,
        float(((lum >= 85.0) & (lum < 170.0)).sum()) / n,
        float((lum >= 170.0).sum()) / n,
    ]
    feats = [
        float(w),
        float(h),
        float(ch),
        float(lum.mean()) / 255.0,
        float(lum.std()) / 255.0,
        *hist,
    ]
    return (feats + [0.0] * dim)[:dim]


def synth_png(i: int, width: int, height: int) -> bytes:
    """Deterministic synthetic RGB PNG: gradient pattern seeded by ``i``.
    Exercises the real encoder/decoder pair in tests."""
    stride = width * 3
    px = bytearray(height * stride)
    for r in range(height):
        base = r * stride
        for c in range(width):
            o = base + c * 3
            px[o] = (r * 3 + c * 5 + i * 7) % 256
            px[o + 1] = (r * 3 + c * 5 + i * 7 + 11) % 256
            px[o + 2] = (r * 3 + c * 5 + i * 7 + 22) % 256
    return png_encode(width, height, bytes(px), channels=3)


def synth_wav(i: int, sample_rate: int = 8000) -> bytes:
    """Deterministic 16-bit PCM mono WAV: a square wave whose every
    feature is closed-form, so oracle SQL can recompute them from the
    index alone — duration ``1 + i % 10`` s, amplitude
    ``1000 * (1 + i % 5)`` (RMS = peak = amplitude for a square wave),
    half-period ``2 + i % 6`` samples (sign flips exactly every
    half-period → ``(n-1) // hp`` zero crossings). Exercises the REAL
    stdlib ``wave`` encoder/decoder pair in tests, the audio twin of
    ``synth_png``."""
    import io
    import wave as _wave

    import numpy as np

    dur_s = 1 + i % 10
    n = sample_rate * dur_s
    amp = 1000 * (1 + i % 5)
    hp = 2 + i % 6
    k = np.arange(n)
    samples = np.where((k // hp) % 2 == 0, amp, -amp).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def wav_decode(data: bytes) -> tuple[int, int, "object"]:
    """Decode a 16-bit PCM WAV with stdlib ``wave`` only.

    Returns ``(sample_rate, n_channels, samples)`` where samples is a 1-D
    int16 numpy array of channel 0 (first channel, not a downmix — keeps
    every derived feature integer-exact and engine-invariant). Raises
    ``DecodeUnavailable`` for non-WAV bytes or non-16-bit encodings —
    callers fall back to opaque features."""
    import io
    import wave as _wave

    import numpy as np

    try:
        with _wave.open(io.BytesIO(data)) as w:
            nch, sw, sr = w.getnchannels(), w.getsampwidth(), w.getframerate()
            raw = w.readframes(w.getnframes())
    except (EOFError, _wave.Error) as e:
        raise DecodeUnavailable(f"not a PCM WAV stream: {e}") from e
    if sw != 2:
        raise DecodeUnavailable(f"unsupported WAV sample width {sw}")
    samples = np.frombuffer(raw, dtype="<i2")
    if nch > 1:
        samples = samples[::nch]  # channel 0
    return sr, nch, samples


def audio_features(data: bytes, dim: int = 8) -> list[float]:
    """Real audio feature vector from decoded PCM samples:
    [n_samples, sample_rate, channels, rms/32768, peak/32768,
    zero_crossings, zcr, 0]. The crossing COUNT (an exact integer) is the
    oracle-checked feature; ``zcr`` = crossings/(n-1) is the conventional
    rate alongside it. Falls back to ``_fake_feature`` for undecodable
    content so mixed media batches never fail the job."""
    import math

    import numpy as np

    try:
        _sr, nch, x = wav_decode(data)
    except DecodeUnavailable:
        return _fake_feature(data, dim)
    n = int(x.size)
    if n == 0:
        return ([0.0] * 8 + [0.0] * dim)[:dim]
    xd = x.astype(np.float64)
    rms_norm = math.sqrt(float((xd * xd).mean())) / 32768.0
    peak_norm = float(np.abs(xd).max()) / 32768.0
    sign = np.where(xd >= 0, 1, -1)  # zeros count as positive (deterministic)
    crossings = float((sign[1:] != sign[:-1]).sum()) if n > 1 else 0.0
    zcr = crossings / (n - 1) if n > 1 else 0.0
    feats = [
        float(n),
        float(_sr),
        float(nch),
        rms_norm,
        peak_norm,
        crossings,
        zcr,
        0.0,
    ]
    return (feats + [0.0] * dim)[:dim]


_VIDEO_MAGIC = b"PNGV"


def video_encode(frames: list[bytes], fps: int) -> bytes:
    """Encode PNG frames as a PNGV container: magic + u8 version + u16 fps
    + u32 frame count, then per frame a u32 length prefix + the PNG bytes.
    The video twin of ``png_encode``/``synth_wav`` — tests and synthetic
    corpora exercise the REAL decoder."""
    head = _VIDEO_MAGIC + struct.pack(">BHI", 1, fps, len(frames))
    return head + b"".join(struct.pack(">I", len(f)) + f for f in frames)


def video_decode(data: bytes) -> tuple[int, list[bytes]]:
    """Decode a PNGV container → (fps, [png_frame_bytes]).

    Raises ``DecodeUnavailable`` for non-PNGV bytes (e.g. real H.264 —
    no codec libraries in this environment) or a truncated stream —
    callers fall back to opaque features or skip the row."""
    if len(data) < 11 or data[:4] != _VIDEO_MAGIC:
        raise DecodeUnavailable("not a PNGV stream")
    ver, fps, n = struct.unpack(">BHI", data[4:11])
    if ver != 1:
        raise DecodeUnavailable(f"unsupported PNGV version {ver}")
    frames, pos = [], 11
    for _ in range(n):
        if pos + 4 > len(data):
            raise DecodeUnavailable("truncated PNGV frame table")
        ln = int.from_bytes(data[pos : pos + 4], "big")
        pos += 4
        if pos + ln > len(data):
            raise DecodeUnavailable("truncated PNGV frame payload")
        frames.append(data[pos : pos + ln])
        pos += ln
    return fps, frames


def synth_video(i: int, width: int = 16, height: int = 12, fps: int = 2) -> bytes:
    """Deterministic PNGV video: ``fps * (1 + i % 10)`` solid-color RGB
    frames (duration ``1 + i % 10`` s, matching the media-table spec).
    Frame ``f`` is the constant color ``((i*7 + f*13) % 256, +11, +22)``,
    so every decoded pixel statistic is closed-form from ``(i, f)`` alone
    and integer-valued (exact in double arithmetic on any engine) — the
    video twin of ``synth_png``/``synth_wav``."""
    frames = []
    for f in range(fps * (1 + i % 10)):
        base = (i * 7 + f * 13) % 256
        px = bytes([base, (base + 11) % 256, (base + 22) % 256]) * (width * height)
        frames.append(png_encode(width, height, px, channels=3))
    return video_encode(frames, fps)


def video_features(data: bytes, dim: int = 8) -> list[float]:
    """Real video feature vector from decoded frames:
    [n_frames, fps, width, height, mean_r, mean_g, mean_b, 0] where the
    channel means are over every pixel of every frame. Integer pixel sums
    stay below 2^53, so each mean is a correctly-rounded rational —
    bit-identical to an oracle recomputing it in SQL. Falls back to
    ``_fake_feature`` for undecodable content so mixed media batches
    never fail the job."""
    import numpy as np

    try:
        fps, frame_bytes = video_decode(data)
        if not frame_bytes:
            return _fake_feature(data, dim)
        decoded = [png_decode(fb) for fb in frame_bytes]
    except DecodeUnavailable:
        return _fake_feature(data, dim)
    w, h, ch = decoded[0][0], decoded[0][1], decoded[0][2]
    px = np.concatenate(
        [np.frombuffer(p, dtype=np.uint8).reshape(-1, c) for _, _, c, p in decoded]
    ).astype(np.float64)
    means = [float(px[:, min(c, px.shape[1] - 1)].mean()) for c in range(3)]
    feats = [float(len(decoded)), float(fps), float(w), float(h), *means, 0.0]
    return (feats + [0.0] * dim)[:dim]


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_ts_ms", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("mean_r", DoubleType(), True),
    ]
)


def decode_sampled_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling: decode each video's PNGV container, pick the
    frame nearest each sampled timestamp (``floor(ts * fps / 1000)``,
    clamped to the last frame), and emit per-frame pixel statistics from
    the actually-decoded PNG. Upgrades ``sample_frames`` (the pure-plumbing
    explode) to a decoding stage; undecodable rows are skipped, not fatal.

    Scale shape: mapInPandas over the video rows only (filter pushed ahead
    of the Python stage), one Arrow batch of binary rows in memory at a
    time, and the output carries small fixed-width stats — raw media bytes
    never enter a shuffle.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    fps, frame_bytes = video_decode(bytes(content))
                except DecodeUnavailable:
                    continue
                if not frame_bytes or fps <= 0:
                    continue
                duration_ms = len(frame_bytes) * 1000 // fps
                for ts in range(0, duration_ms, every_ms):
                    idx = min(len(frame_bytes) - 1, ts * fps // 1000)
                    try:
                        w, h, ch, px = png_decode(frame_bytes[idx])
                    except DecodeUnavailable:
                        continue
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(-1, ch)
                    rows.append(
                        (int(mid), ts, idx, w, h, float(arr[:, 0].mean()))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "frame_ts_ms",
                    "frame_idx",
                    "width",
                    "height",
                    "mean_r",
                ],
            )

    return df.filter(F.col("kind") == "video").select(
        "media_id", "content"
    ).mapInPandas(run, FRAME_SCHEMA)


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic media table: image rows carry REAL (decodable) PNG
    bytes, audio rows REAL (decodable) 16-bit PCM WAV bytes, video rows
    REAL (decodable) PNGV containers of 16×12 solid-color frames — every
    kind exercises its real decoder."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        w, h = 64 + i % 32, 64 + (i * 7) % 32
        if kind == "image":
            content = synth_png(i, w, h)
        elif kind == "audio":
            content = synth_wav(i)
        else:
            content = synth_video(i)
            w, h = 16, 12  # actual decoded frame dimensions
        rows.append(
            (i, kind, content, ("image/png", "audio/wav", "video/x-pngv")[i % 3],
             w, h, 1000 * (1 + i % 10))
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def extract_features(df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """mapInPandas feature extraction over binary media content.

    The iterator contract keeps peak memory to one Arrow batch of binary
    rows; the returned frame carries only small fixed-width features, so
    downstream stages never shuffle raw media bytes.
    """

    def featurize(kind: str, content: bytes | None) -> list[float]:
        if content is None:
            return [0.0] * 8
        if kind == "image":
            return image_features(content)  # real decode for PNG
        if kind == "audio":
            return audio_features(content)  # real decode for 16-bit PCM WAV
        if kind == "video":
            return video_features(content)  # real decode for PNGV containers
        return _fake_feature(content)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
                    "content_sha": pdf["content"].map(
                        lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                    ),
                    "feature": [
                        featurize(k, c) for k, c in zip(pdf["kind"], pdf["content"])
                    ],
                }
            )
            yield out

    return df.mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled timestamp.

    The frame decode itself is stubbed (content passthrough of the sha);
    the explode + timestamp arithmetic — the part Spark owns — is real.
    """
    frames = df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )
    return frames


def resize_image(data: bytes, max_side: int) -> tuple[bytes, int, int, bool]:
    """Nearest-neighbor downscale of a PNG so its longest side ≤
    ``max_side``. Returns ``(png_bytes, width, height, did_resize)`` —
    an explicit flag, not inferred from encoded byte length (a downscale
    can coincidentally re-encode to the original length). Pass-through
    when already small enough. Real decode → numpy index-sample → real
    encode, stdlib codec both ways. Raises ``DecodeUnavailable`` for
    non-PNG content — callers decide whether to pass through or drop."""
    import numpy as np

    w, h, ch, px = png_decode(data)
    side = max(w, h)
    if side <= max_side:
        return data, w, h, False
    scale = max_side / side
    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    ys = (np.arange(nh) * (h / nh)).astype(int)
    xs = (np.arange(nw) * (w / nw)).astype(int)
    out = arr[ys][:, xs]
    return png_encode(nw, nh, out.tobytes(), channels=ch), nw, nh, True


def resample_audio(
    data: bytes, target_rate: int
) -> tuple[bytes, int, int, bool]:
    """Nearest-neighbor (sample-pick) resample of a 16-bit PCM WAV to
    ``target_rate``. Returns ``(wav_bytes, rate, n_samples, did_resample)``
    — explicit flag, same contract as ``resize_image``. Pass-through when
    already at or below the target rate (this is a downsampling stage for
    training-data normalization, not an upsampler). Real decode → numpy
    index-pick → real stdlib encode. Raises ``DecodeUnavailable`` for
    non-WAV content."""
    import io
    import wave as _wave

    import numpy as np

    sr, _nch, x = wav_decode(data)
    if sr <= target_rate:
        return data, sr, int(x.size), False
    idx = (np.arange(int(x.size * target_rate / sr)) * (sr / target_rate)).astype(
        int
    )
    out = np.asarray(x)[idx].astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(target_rate)
        w.writeframes(out.tobytes())
    return buf.getvalue(), target_rate, int(out.size), True


RESAMPLED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("content", BinaryType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("resampled", StringType(), True),
    ]
)


def resample_audios(df: DataFrame, target_rate: int = 4000) -> DataFrame:
    """mapInPandas audio-resample stage — the audio twin of
    ``resize_images``: every decodable WAV above ``target_rate`` is
    downsampled; other rows pass through with ``'passthrough'``/
    ``'error'`` markers instead of failing the batch. Arrow-batched
    iterator, one batch of binary rows in memory at a time; output rows
    carry the (now smaller) binary plus rate/length — the normalization
    pass ahead of an audio featurizer at training-data scale.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for _, r in pdf.iterrows():
                content, status = r["content"], "passthrough"
                rate, nsamp = None, None
                if r["kind"] == "audio" and content is not None:
                    try:
                        res, rate, nsamp, did = resample_audio(
                            bytes(content), target_rate
                        )
                        if did:
                            content, status = res, "resampled"
                    except DecodeUnavailable:
                        status = "error"
                out_rows.append(
                    (r["media_id"], r["kind"], content, rate, nsamp, status)
                )
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "media_id",
                    "kind",
                    "content",
                    "sample_rate",
                    "n_samples",
                    "resampled",
                ],
            )

    return df.mapInPandas(run, RESAMPLED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("content", BinaryType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("resized", StringType(), True),
    ]
)


def resize_images(df: DataFrame, max_side: int = 32) -> DataFrame:
    """mapInPandas image-resize stage: every decodable image whose longest
    side exceeds ``max_side`` is downscaled (nearest neighbor); other rows
    pass through untouched with ``resized='passthrough'``/``'error'``
    markers instead of failing the batch — at 100 TB a single corrupt blob
    must never kill a pipeline stage.

    Same scale discipline as extract_features: Arrow-batched iterator, one
    batch of binary rows in memory at a time, output rows carry the (now
    smaller) binary plus dimensions — the pattern for thumbnail/training-
    resolution preprocessing ahead of an ML featurizer.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for _, r in pdf.iterrows():
                content, status = r["content"], "passthrough"
                w, h = r.get("width"), r.get("height")
                if r["kind"] == "image" and content is not None:
                    try:
                        resized, nw, nh, did = resize_image(bytes(content), max_side)
                        if did:
                            content, status = resized, "resized"
                            w, h = nw, nh
                        else:
                            status = "passthrough"
                    except DecodeUnavailable:
                        status = "error"
                out_rows.append(
                    (r["media_id"], r["kind"], content, w, h, status)
                )
            yield pd.DataFrame(
                out_rows,
                columns=["media_id", "kind", "content", "width", "height", "resized"],
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)
