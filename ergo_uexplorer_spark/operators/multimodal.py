"""Multimodal column plumbing for a training-data pipeline.

Media lives as opaque `binary` columns with typed metadata structs; all
heavy per-item work (decode, feature extraction) runs as Arrow-batched
`mapInPandas` so bytes never materialize on the driver and each task
streams batches. The compressed codecs (PIL/ffmpeg/
torchaudio) are NOT in this container — the decode kernel is pluggable.
Two kernels ship: `_fake_decode` (deterministic per content hash, the
default — the synthetic testdata bytes are opaque blobs) and
`real_decode`, a pure-Python decoder for uncompressed containers (PPM P6
images and RIFF/WAVE PCM audio) that computes a real FEATURE_DIM summary
(dims + channel stats + luminance histogram for images; rate + level
stats + amplitude histogram for audio) and falls back to the hash kernel
for bytes it can't sniff. The Spark side — schema, batch shape,
partitioning, UDF signatures — is identical for both kernels.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("format", StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha256", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic stand-in for a codec+encoder: FEATURE_DIM floats
    derived from the content digest. Replace via `decode_fn`."""
    d = hashlib.sha256(content).digest()
    return [b / 255.0 for b in d[:FEATURE_DIM]]


def decode_ppm(content: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a binary PPM (P6) image: returns (width, height, pixels)
    with pixels shaped (height*width, 3) uint8/uint16. Handles the
    format's `#` comments and arbitrary whitespace in the header."""
    import numpy as np

    if content[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic + 3 ASCII ints (width height maxval), '#' comments
    # allowed between tokens, a single whitespace byte ends the header
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if pos < len(content) and content[pos : pos + 1] == b"#":
            eol = content.find(b"\n", pos)
            pos = len(content) if eol < 0 else eol + 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(int(content[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if not (0 < maxval < 65536 and width > 0 and height > 0):
        raise ValueError("bad PPM dimensions/maxval")
    dtype = np.uint8 if maxval < 256 else np.dtype(">u2")
    n = width * height * 3
    pixels = np.frombuffer(content, dtype=dtype, count=n, offset=pos)
    return width, height, pixels.reshape(-1, 3).astype(np.float64) / maxval


def decode_wav(content: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a RIFF/WAVE PCM file: returns (sample_rate, n_channels,
    samples) with samples normalized to [-1, 1] float64 (interleaved).
    Supports 8-bit unsigned and 16-bit signed PCM (format tag 1)."""
    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack(
            "<I", content[pos + 4 : pos + 8]
        )[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, channels, rate, _byterate, _align, bits = fmt
    if tag != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV encoding tag={tag} bits={bits}")
    if bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=len(data) // 2
        ).astype(np.float64) / 32768.0
    else:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        ) / 128.0
    return rate, channels, samples


def _image_features(width: int, height: int, px: "np.ndarray") -> list:
    """16 floats: [w/4096, h/4096, meanRGB×3, stdRGB×3, 8-bin luminance
    histogram (fraction of pixels per bin)]."""
    import numpy as np

    luma = px @ np.array([0.299, 0.587, 0.114])
    hist = np.histogram(luma, bins=8, range=(0.0, 1.0))[0] / max(len(luma), 1)
    return [
        width / 4096.0,
        height / 4096.0,
        *px.mean(axis=0).tolist(),
        *px.std(axis=0).tolist(),
        *hist.tolist(),
    ]


def _audio_features(rate: int, channels: int, s: "np.ndarray") -> list:
    """16 floats: [rate/48k, channels/8, duration_s/60, mean, rms, peak,
    zero-crossing rate, min, 8-bin |amplitude| histogram]."""
    import numpy as np

    n = max(len(s), 1)
    dur = len(s) / max(channels, 1) / max(rate, 1)
    zcr = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) if len(s) > 1 else 0.0
    hist = np.histogram(np.abs(s), bins=8, range=(0.0, 1.0))[0] / n
    return [
        rate / 48000.0,
        channels / 8.0,
        dur / 60.0,
        float(s.mean()) if len(s) else 0.0,
        float(np.sqrt((s**2).mean())) if len(s) else 0.0,
        float(np.abs(s).max()) if len(s) else 0.0,
        zcr,
        float(s.min()) if len(s) else 0.0,
        *hist.tolist(),
    ]


def real_decode(content: bytes) -> list[float]:
    """Real-codec kernel for uncompressed containers: sniffs the magic
    bytes — PPM P6 → image features, RIFF/WAVE PCM → audio features —
    and falls back to the deterministic hash kernel for anything else
    (compressed formats need PIL/ffmpeg, absent in this container)."""
    try:
        if content[:2] == b"P6":
            return [float(x) for x in _image_features(*decode_ppm(content))]
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            return [float(x) for x in _audio_features(*decode_wav(content))]
    except (ValueError, struct.error):
        pass  # malformed container → stable fallback, never a task kill
    return _fake_decode(content)


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    batch_size_hint: int = 256,
) -> DataFrame:
    """mapInPandas feature extraction: bytes → fixed-dim float vector.

    Arrow streams batches into the Python worker; output rows drop the
    raw bytes (never carry media bytes past the stage that needs them —
    at 100 TB the bytes dominate shuffle cost)."""
    fn = decode_fn or _fake_decode

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            # total over NULL content: one missing blob must not kill
            # the executor task (the dirty-twin posture) — such rows
            # yield null size/hash/features, observable downstream
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": content.map(
                        lambda b: len(b) if b is not None else None
                    ).astype("Int64"),
                    "content_sha256": content.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                        if b is not None
                        else None
                    ),
                    "features": content.map(
                        lambda b: fn(b) if b is not None else None
                    ),
                }
            )

    return media.mapInPandas(_extract, FEATURES_SCHEMA)


# Ship this module by VALUE to Spark python workers (they don't share the
# driver's sys.path; see functions/crypto.py for the same pattern).
try:  # pragma: no cover
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001 - best-effort; --py-files is the fallback
    pass
