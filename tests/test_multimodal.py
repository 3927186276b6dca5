"""Multimodal binary-column plumbing tests: the mapInPandas decode kernel
(deterministic fake codec), invalid-payload containment, frame sampling, and
the real-codec gate."""

from __future__ import annotations

import struct

import pytest

from pyspark.sql import types as T

from billing_data_pipeline_spark.operators.multimodal import (
    MAGIC,
    decode_media,
    sample_frames,
)

# The input shape the decode kernels take: an id, a kind, and the bytes.
MEDIA_SCHEMA = T.StructType(
    [
        # all nullable (review r8): lake reality — failed downloads leave
        # NULL blobs, joins leave NULL ids — and the decode kernels
        # contain both (valid=false / NULL-id manifest row) rather than
        # reject them at the schema door. Parquet scans surface nullable
        # columns anyway; the old non-null declaration only ever bound
        # createDataFrame test fixtures.
        T.StructField("media_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
    ]
)


def encode_fake_media(media_id, kind, width, height, n_frames, payload=b""):
    """A synthetic media record: the MM01 header, then ``payload``."""
    header = MAGIC + struct.pack(">III", width, height, n_frames)
    return (media_id, kind, header + payload)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        encode_fake_media(1, "image", 640, 480, 1, b"x" * 100),
        encode_fake_media(2, "video", 1920, 1080, 90, b"y" * 500),
        encode_fake_media(3, "audio", 0, 0, 0, b"z" * 50),
        (4, "image", b"not-a-media-blob"),  # corrupt payload
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_parses_headers(spark, media):
    out = {r["media_id"]: r for r in decode_media(media).collect()}
    assert out[1]["width"] == 640 and out[1]["height"] == 480 and out[1]["valid"]
    assert out[2]["n_frames"] == 90
    assert out[3]["valid"] and out[3]["n_bytes"] == 16 + 50


def test_corrupt_payload_contained_not_fatal(spark, media):
    """A bad blob yields valid=false with NULL dims — per-record error
    containment (reference OPT7), never a job failure."""
    bad = decode_media(media).filter("media_id = 4").first()
    assert bad["valid"] is False
    assert bad["width"] is None


def test_null_blob_and_null_id_contained_not_fatal(spark):
    """r8 (NULL-key probe): a NULL content blob must decode to
    valid=false — bytes(None) previously raised and killed the job,
    violating the module's own containment contract — and a NULL
    media_id must emit a NULL-id manifest row, not die in row decoding
    through a non-nullable schema field (both real and fake kernels)."""
    rows = [
        encode_fake_media(1, "image", 640, 480, 1),
        (2, "image", None),       # NULL blob
        (None, "image", b"BMx"),  # NULL id, junk blob
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    for fake in (True, False):
        out = {r["media_id"]: r for r in decode_media(df, fake=fake).collect()}
        assert out[2]["valid"] is False and out[2]["n_bytes"] == 0
        assert out[None]["valid"] is False  # NULL id emitted, job alive
    assert decode_media(df, fake=True).filter("media_id = 1").first()["valid"]


def test_sample_frames_every_n(spark, media):
    frames = sample_frames(media, every_n=30).collect()
    assert [r["frame_idx"] for r in frames] == [0, 30, 60]
    assert all(r["media_id"] == 2 for r in frames)


def _real_bmp(w: int, h: int) -> bytes:
    """Hand-assembled 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER +
    zeroed pixel rows padded to 4-byte boundaries — a file any image viewer
    opens."""
    row = (w * 3 + 3) & ~3
    pixels = b"\x00" * (row * h)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + dib + pixels


def _real_wav(rate: int, channels: int, n_samples: int, bits: int = 16) -> bytes:
    """Hand-assembled PCM WAV (RIFF/fmt /data) with silent samples."""
    data = b"\x00" * (n_samples * channels * (bits // 8))
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _real_png(w: int, h: int) -> bytes:
    """PNG signature + IHDR chunk (header-only; body truncated is fine for
    metadata decode)."""
    import zlib

    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk))
    )


def test_real_decoder_parses_bmp_png_wav_end_to_end(spark):
    """decode_media(fake=False) runs REAL format decoders (BMP/PNG/WAV
    byte-layout parsing, no external codec libs) through the same
    mapInPandas path; unknown blobs are contained as valid=false."""
    rows = [
        (1, "image", _real_bmp(37, 23)),
        (2, "image", _real_png(512, 256)),
        (3, "audio", _real_wav(8000, 2, 1000)),
        (4, "image", b"definitely not media"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_media(df, fake=False).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) == (37, 23, 1)
    assert out[1]["valid"] and out[1]["n_bytes"] == len(rows[0][2])
    assert (out[2]["width"], out[2]["height"]) == (512, 256)
    # WAV: width=sample rate, height=channels, n_frames=samples per channel
    assert (out[3]["width"], out[3]["height"], out[3]["n_frames"]) == (8000, 2, 1000)
    assert out[4]["valid"] is False and out[4]["width"] is None


def test_topdown_bmp_decodes_unflipped(spark):
    """A legal top-down BMP (negative height) decodes to its bottom-up
    twin's dimensions: the height is the magnitude, the sign only the row
    order (code-review r3 finding). A height of INT32_MIN has no int32
    magnitude and is contained as valid=false, not an Arrow cast failure."""
    bottom_up = _real_bmp(3, 2)

    def with_height(h):
        return bottom_up[:22] + struct.pack("<i", h) + bottom_up[26:]

    rows = [
        (1, "image", bottom_up),
        (2, "image", with_height(-2)),
        (3, "image", with_height(-(1 << 31))),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_media(df, fake=False).collect()}
    for mid in (1, 2):
        assert (out[mid]["width"], out[mid]["height"], out[mid]["valid"]) == (3, 2, True)
    assert out[3]["valid"] is False and out[3]["height"] is None
