"""Multimodal plumbing: binary columns, mapInPandas feature extraction.
Two decode kernels: the deterministic hash fake
(default — testdata bytes are opaque) and `real_decode`, a pure-Python
PPM P6 / WAV PCM parser verified here on generated real bytes."""

from __future__ import annotations

import hashlib
import struct

import pytest

from ergo_uexplorer_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_ppm,
    decode_wav,
    extract_features,
    real_decode,
)


def make_ppm(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Solid-color binary PPM with a header comment (exercises the
    comment-skipping tokenizer)."""
    header = f"P6\n# synthetic test image\n{width} {height}\n255\n".encode()
    return header + bytes(rgb) * (width * height)


def make_wav(
    rate: int, samples: list[int], channels: int = 1, bits: int = 16
) -> bytes:
    """Minimal RIFF/WAVE PCM16 file from integer samples."""
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    for i in range(50):
        content = f"media-blob-{i}".encode() * (i + 1)
        mtype = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                mtype,
                bytearray(content),
                (640 + i, 480 + i, 5000 + i * 100, "synthetic"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic(media):
    out = extract_features(media).orderBy("media_id")
    rows = out.collect()
    assert len(rows) == 50
    first = rows[0]
    assert len(first["features"]) == FEATURE_DIM
    content = b"media-blob-0"
    assert first["content_sha256"] == hashlib.sha256(content).hexdigest()
    assert first["n_bytes"] == len(content)
    # stable across runs
    again = extract_features(media).orderBy("media_id").collect()
    assert [r["features"] for r in again] == [r["features"] for r in rows]


def test_decode_ppm_known_pixels():
    w, h, px = decode_ppm(make_ppm(4, 3, (255, 0, 128)))
    assert (w, h) == (4, 3)
    assert px.shape == (12, 3)
    assert px[0].tolist() == pytest.approx([1.0, 0.0, 128 / 255])


def test_decode_wav_known_samples():
    rate, ch, s = decode_wav(make_wav(8000, [0, 16384, -32768, 32767]))
    assert (rate, ch) == (8000, 1)
    assert s.tolist() == pytest.approx(
        [0.0, 0.5, -1.0, 32767 / 32768], abs=1e-9
    )


def test_real_decode_known_feature_values():
    # Solid mid-gray image: means = rgb/255, stds = 0, all luminance in
    # one histogram bin
    feats = real_decode(make_ppm(8, 4, (128, 128, 128)))
    assert len(feats) == FEATURE_DIM
    assert feats[0] == pytest.approx(8 / 4096)
    assert feats[1] == pytest.approx(4 / 4096)
    assert feats[2:5] == pytest.approx([128 / 255] * 3)
    assert feats[5:8] == pytest.approx([0.0] * 3)
    hist = feats[8:16]
    assert sum(hist) == pytest.approx(1.0)
    assert hist[4] == pytest.approx(1.0)  # luma 0.502 → bin [0.5, 0.625)

    # Full-scale square wave: rms = peak = 1 (≈), mean ≈ 0, zcr = 1
    sq = [32767, -32768] * 50
    feats = real_decode(make_wav(16000, sq))
    assert feats[0] == pytest.approx(16000 / 48000)
    assert feats[1] == pytest.approx(1 / 8)
    assert feats[2] == pytest.approx(100 / 16000 / 60)
    assert abs(feats[3]) < 1e-4  # mean
    assert feats[4] == pytest.approx(1.0, abs=1e-4)  # rms
    assert feats[5] == pytest.approx(1.0, abs=1e-4)  # peak
    assert feats[6] == pytest.approx(1.0)  # zero-crossing rate
    assert feats[7] == pytest.approx(-1.0)  # min

    # Unknown container → hash-kernel fallback, no exception
    blob = b"not a media file"
    assert real_decode(blob) == pytest.approx(
        [b / 255.0 for b in hashlib.sha256(blob).digest()[:FEATURE_DIM]]
    )


def test_extract_features_real_codec_in_spark(spark):
    """The Arrow mapInPandas path exercised on REAL decodable bytes:
    generated PPM images and WAV audio flow through extract_features
    with decode_fn=real_decode and produce the known feature values."""
    rows = [
        (0, "image", bytearray(make_ppm(6, 2, (0, 255, 0))),
         (6, 2, 0, "ppm")),
        (1, "audio", bytearray(make_wav(8000, [0] * 400)),
         (0, 0, 50, "wav")),
        (2, "image", bytearray(b"corrupt P7 whatever"),
         (0, 0, 0, "unknown")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in extract_features(df, decode_fn=real_decode).collect()
    }
    img = out[0]["features"]
    assert img[2:5] == pytest.approx([0.0, 1.0, 0.0])  # pure green
    wav = out[1]["features"]
    assert wav[4] == pytest.approx(0.0)  # silence → rms 0
    assert wav[2] == pytest.approx(400 / 8000 / 60)
    blob = bytes(rows[2][2])
    assert out[2]["features"] == pytest.approx(
        [b / 255.0 for b in hashlib.sha256(blob).digest()[:FEATURE_DIM]]
    )
    assert out[2]["content_sha256"] == hashlib.sha256(blob).hexdigest()
