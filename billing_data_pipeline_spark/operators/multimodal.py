"""[EXT] Multimodal binary columns (SURVEY.md §2.12).

Images/audio/video ride through the engine as opaque ``binary`` columns
with typed metadata structs; decode and frame sampling run as Arrow-batched
``mapInPandas`` stages so bytes never leave the executors and Python sees
whole record batches, not rows.

Pixel/sample-level codecs (PIL/ffmpeg/torchaudio) are NOT in this
container, so the kernels are tiered: ``decode_media(..., fake=True)``
parses our synthetic header layout (deterministic test fixture), while
``fake=False`` runs REAL dependency-free decoders — BMP, PNG, and WAV
header+layout parsing in ``_decode_real`` — over genuine format bytes.
Heavier codecs drop into the same sniff table untouched. Either way the
Spark-side plumbing — schema, Arrow batch iteration, partitioning — is
identical and fully tested.

Synthetic media header (16 bytes, big-endian): magic ``MM01`` + u32 width +
u32 height + u32 n_frames, then payload bytes.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        # media_id/kind nullable (review r8, NULL-key probe): a record
        # with an unknown id must decode to a NULL-id manifest row — a
        # non-nullable field turns it into EXPRESSION_DECODING_FAILED
        # and kills the job (the applyInPandasWithState crash's twin)
        T.StructField("media_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)

MAGIC = b"MM01"
HEADER_LEN = 16


def _decode_fake(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in decode: parse the synthetic header."""
    rows = []
    # direct column zip, not iterrows() (review r7): iterrows builds a
    # dtype-coerced Series per record — pure overhead for a few bytes of
    # header parsing per row
    for mid, kind, raw in zip(
        batch["media_id"], batch["kind"], batch["content"]
    ):
        # NULL blob -> empty -> valid=false (review r8, NULL-key probe):
        # bytes(None) raised and killed the whole job, violating this
        # module's own containment contract ("malformed blobs yield
        # valid=false, never a job failure")
        content = bytes(raw) if raw is not None else b""
        ok = len(content) >= HEADER_LEN and content[:4] == MAGIC
        if ok:
            w, h, nf = struct.unpack(">III", content[4:HEADER_LEN])
            # u32 fields above int32 are malformed headers, not crashes:
            # the Arrow IntegerType cast would overflow the whole task
            # (review r5; _parse_png/_parse_wav already guard this)
            if max(w, h, nf) > 0x7FFFFFFF:
                ok, w, h, nf = False, None, None, None
        else:
            w = h = nf = None
        rows.append(
            {
                "media_id": mid,
                "kind": kind,
                "n_bytes": len(content),
                "width": w,
                "height": h,
                "n_frames": nf,
                "valid": ok,
            }
        )
    return pd.DataFrame(rows)


def _parse_bmp(content: bytes) -> tuple[int, int, int] | None:
    """BMP (Windows DIB): 'BM' file header (14 B) + BITMAPINFOHEADER.
    Width/height are little-endian i32 at offsets 18/22; height may be
    negative for top-down rows. Single image -> n_frames=1."""
    if len(content) < 26 or content[:2] != b"BM":
        return None
    dib_size = struct.unpack_from("<I", content, 14)[0]
    if dib_size < 40 or len(content) < 14 + dib_size:
        return None
    w, h = struct.unpack_from("<ii", content, 18)
    if w <= 0 or h == 0:
        return None
    if h == -(1 << 31):
        # abs(INT32_MIN) = 2^31 overflows the IntegerType height column —
        # the same u32->int32 containment the PNG/WAV parsers got in
        # r4/r5, missing only here (review r6): malformed, not fatal
        return None
    return w, abs(h), 1


def _parse_png(content: bytes) -> tuple[int, int, int] | None:
    """PNG: 8-byte signature, then the IHDR chunk (must be first) carries
    big-endian u32 width/height at offsets 16/20."""
    if len(content) < 24 or content[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    if content[12:16] != b"IHDR":
        return None
    w, h = struct.unpack_from(">II", content, 16)
    # u32 header fields above int32 max are MALFORMED here, not values:
    # the decoded schema stores IntegerType, and letting them through
    # would wrap negative (or crash the Arrow safe-cast) instead of the
    # promised valid=false containment (review r4)
    if not w or not h or w > 0x7FFFFFFF or h > 0x7FFFFFFF:
        return None
    return w, h, 1


def _parse_wav(content: bytes) -> tuple[int, int, int] | None:
    """WAV (RIFF): walk chunks for 'fmt ' (channels, sample rate, bits) and
    'data' (payload size). Mapped into the decoded schema as width=sample
    rate, height=channels, n_frames=samples per channel (audio 'frames')."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, channels, rate, bits, data_len = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        clen = struct.unpack_from("<I", content, pos + 4)[0]
        if cid == b"fmt " and clen >= 16 and pos + 8 + 16 <= len(content):
            channels, rate = struct.unpack_from("<HI", content, pos + 10)
            bits = struct.unpack_from("<H", content, pos + 22)[0]
        elif cid == b"data":
            data_len = min(clen, len(content) - pos - 8)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if not channels or not rate or not bits or data_len is None:
        return None
    n_frames = data_len // (channels * (bits // 8)) if bits >= 8 else 0
    # same int32 containment rule as _parse_png (review r4)
    if rate > 0x7FFFFFFF or n_frames > 0x7FFFFFFF:
        return None
    return rate, channels, n_frames


def _decode_real(batch: pd.DataFrame) -> pd.DataFrame:
    """Dependency-free real decoders: BMP / PNG / WAV header+layout parsing
    (pure byte arithmetic — no PIL/ffmpeg, which this container lacks).
    Formats beyond these would slot into the same sniff table; unknown or
    malformed blobs yield valid=false, never a job failure."""
    rows = []
    for mid, kind, raw in zip(
        batch["media_id"], batch["kind"], batch["content"]
    ):
        # NULL blob -> empty -> valid=false, not a job failure (review
        # r8; same guard as _decode_fake)
        content = bytes(raw) if raw is not None else b""
        parsed = _parse_bmp(content) or _parse_png(content) or _parse_wav(content)
        rows.append(
            {
                "media_id": mid,
                "kind": kind,
                "n_bytes": len(content),
                "width": parsed[0] if parsed else None,
                "height": parsed[1] if parsed else None,
                "n_frames": parsed[2] if parsed else None,
                "valid": parsed is not None,
            }
        )
    return pd.DataFrame(rows)


def decode_media(df: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/inspect a binary media column via Arrow-batched mapInPandas."""
    kernel = _decode_fake if fake else _decode_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield kernel(batch)

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def sample_frames(df: DataFrame, every_n: int) -> DataFrame:
    """Frame sampling for video records (synthetic-header kernel): emits one
    row per sampled frame index (schema-level plumbing; frame bytes
    extraction is codec work that slots into the same kernel)."""
    if every_n < 1:
        # fail at plan time like chunk_tokens, not mid-job in F.sequence
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    # Per-record containment for hostile frame counts (review r6): a fake
    # header with n_frames = INT32_MAX is 'valid' shape-wise, but one such
    # record's F.sequence would exceed Spark's max array length (or OOM an
    # executor) and kill the whole job. 4M sampled indices per record is
    # far past any real video (36 h at 30 fps) — beyond it the record is
    # malformed by fiat and yields no frames, like any other parse reject.
    max_samples = 4_000_000
    n_sampled = (F.col("n_frames") - 1) / F.lit(every_n) + 1
    decoded = decode_media(df)
    return (
        # n_frames > 0: a zero-frame (or NULL-frame-count) video has no
        # frames to sample — the old greatest(n-1, 0) clamp emitted a
        # phantom frame_idx=0 row pointing past the payload (review r4)
        decoded.filter(
            F.col("valid")
            & (F.col("kind") == "video")
            & (F.col("n_frames") > 0)
            & (n_sampled <= max_samples)
        )
        .withColumn(
            "frame_idx",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ),
        )
        .select("media_id", "frame_idx", "width", "height")
    )
