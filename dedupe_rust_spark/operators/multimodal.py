"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The reference decodes images (JPEG/PNG/GIF/WebP/HEIC) with a per-format
dispatch and fallback chain (/root/reference/src/dimensions.rs:10-21,
/root/reference/src/main.rs:684-792). In a 100 TB Spark pipeline the same
shape appears as: binary column + `mapInPandas` decode/feature UDFs.

The actual codec libraries are NOT in this container, so the decode step
is STUBBED: `decode_image` raises NotImplementedError unless
`deterministic_fake=True`, in which case it derives a fake (width, height,
n_pixels, feature vector) from a blake2b hash of the bytes — deterministic,
so the Spark-side plumbing (schema, batching, partitioning) is fully
testable. Swap `_decode_real` for a PIL/libvips call on a real cluster.

Header sniffing (dimensions without decoding — the reference's big
optimization, dimensions.rs:24-195) IS implemented for PNG/GIF/JPEG/WebP
(VP8/VP8L/VP8X) and HEIC/HEIF (ISOBMFF ispe box): it reads only leading
bytes, in pure Python, no codec needed.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

IMAGE_META = T.StructType(
    [
        T.StructField("fmt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_HEIC_BRANDS = {b"heic", b"heix", b"heif", b"hevc", b"mif1", b"msf1"}


def _webp_dimensions(raw: bytes) -> tuple[str | None, int | None, int | None]:
    """WebP VP8/VP8L/VP8X from the first 30 header bytes — byte-for-byte
    the reference's semantics (dimensions.rs:135-178), including the masked
    14-bit VP8 dims and the +1 encodings of VP8L/VP8X."""
    if len(raw) < 30:
        return None, None, None
    h = raw
    chunk = h[12:16]
    if chunk == b"VP8 " and h[20] == 0x2A:
        w = int.from_bytes(bytes([h[26], h[27] & 0x3F]), "little")
        ht = int.from_bytes(bytes([h[28], h[29] & 0x3F]), "little")
        return "webp", w, ht
    if chunk == b"VP8L":
        if h[20] != 0x2F:
            return None, None, None
        b1, b2, b3, b4 = h[21], h[22], h[23], h[24]
        w = (b1 | ((b2 & 0x3F) << 8)) + 1
        ht = ((b2 >> 6) | (b3 << 2) | ((b4 & 0x03) << 10)) + 1
        return "webp", w, ht
    if chunk == b"VP8X":
        w = 1 + ((h[24] | (h[25] << 8) | (h[26] << 16)) & 0xFFFFFF)
        ht = 1 + ((h[27] | (h[28] << 8) | (h[29] << 16)) & 0xFFFFFF)
        return "webp", w, ht
    return None, None, None


def _heic_dimensions(raw: bytes) -> tuple[str | None, int | None, int | None]:
    """HEIC/HEIF dims from the ISOBMFF `ispe` (image spatial extents) box.
    The reference delegates to libheif (dimensions.rs:182-195, codec
    unavailable here); the ispe box itself is plain bytes:
    [size=20 u32be]['ispe'][version/flags u32][width u32be][height u32be].
    None on any parse failure (reference silent-drop semantics)."""
    i = raw.find(b"ispe")
    while i != -1:
        if i >= 4 and len(raw) >= i + 16:
            size = struct.unpack(">I", raw[i - 4 : i])[0]
            if size == 20:
                w, h = struct.unpack(">II", raw[i + 8 : i + 16])
                return "heic", w, h
        i = raw.find(b"ispe", i + 1)
    return None, None, None


def sniff_dimensions(raw: bytes | None) -> tuple[str | None, int | None, int | None]:
    """Header-only (fmt, width, height); None on any parse failure — the
    reference's silent-drop semantics (dimensions.rs:32-34 etc.)."""
    if not raw or len(raw) < 10:
        return None, None, None
    if raw[:8] == b"\x89PNG\r\n\x1a\n" and len(raw) >= 24:
        w, h = struct.unpack(">II", raw[16:24])
        return "png", w, h
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", raw[6:10])
        return "gif", w, h
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        return _webp_dimensions(raw)
    if len(raw) >= 12 and raw[4:8] == b"ftyp" and raw[8:12] in _HEIC_BRANDS:
        return _heic_dimensions(raw)
    if raw[:2] == b"\xff\xd8":  # JPEG: walk segments to SOF0/SOF2
        i = 2
        while i + 9 < len(raw):
            if raw[i] != 0xFF:
                return None, None, None
            marker = raw[i + 1]
            if marker in (0xC0, 0xC2):
                h, w = struct.unpack(">HH", raw[i + 5 : i + 9])
                return "jpeg", w, h
            seg_len = struct.unpack(">H", raw[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return None, None, None
    return None, None, None


def _decode_fake(raw: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic fake 'pixel feature': blake2b-seeded float vector."""
    digest = hashlib.blake2b(raw, digest_size=4 * dim).digest()
    arr = np.frombuffer(digest, dtype=np.uint32).astype(np.float32)
    return arr / np.float32(2**32)


def decode_image(raw: bytes, deterministic_fake: bool = False) -> np.ndarray:
    if deterministic_fake:
        return _decode_fake(raw)
    raise NotImplementedError(
        "image codecs not available in this container; "
        "use deterministic_fake=True for plumbing tests"
    )


def image_features(df: DataFrame, id_col: str = "url",
                   bin_col: str = "content",
                   deterministic_fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.

    Scale notes: binary payloads dominate partition size — callers should
    set spark.sql.files.maxPartitionBytes so a partition of blobs fits in
    worker memory; the iterator form processes one batch at a time and
    never materializes the whole partition.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"content_id": [], "fmt": [], "width": [], "height": [],
                   "n_bytes": [], "feature": []}
            for cid, raw in zip(pdf[id_col], pdf[bin_col]):
                raw = None if raw is None else bytes(raw)
                fmt, w, h = sniff_dimensions(raw)
                out["content_id"].append(cid)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(None if raw is None else len(raw))
                if raw and fmt:
                    out["feature"].append(
                        [float(v) for v in
                         decode_image(raw, deterministic_fake)])
                else:
                    out["feature"].append(None)
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(_extract, FEATURE_SCHEMA)
