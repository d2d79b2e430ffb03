"""Multimodal column plumbing (scale extension).

Images/audio/video are opaque ``binary`` columns + typed metadata. The
Spark-side plumbing — schemas, Arrow batch shapes, ``mapInPandas``
signatures, partitioning — is real and tested.

Header-level decode is REAL: ``decode_image_dimensions`` parses actual
PNG (fixed-offset IHDR) and JPEG (marker-segment walk via an aggregate
fold) bytes with pure column expressions — no imaging library, no Python
UDF. Pixel-level decode is REAL for 24-bit uncompressed BMP
(``decode_bmp_pixels``: numpy slicing over Arrow batches, exact channel
sums + pixel-buffer md5 — no library needed for an uncompressed raster);
compressed-format pixel decode (``decode_features``) remains STUBBED (no
pillow/ffmpeg in this container): pass ``fake=True`` for a deterministic
byte-derived feature extractor, or get a clearly-marked
``NotImplementedError``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..worker import install_zip_stamps

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
        StructField("byte_len", LongType()),
        StructField("content_md5", StringType()),
        StructField("mime", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_channels", LongType()),
        StructField("mean_intensity", DoubleType()),
    ]
)


def attach_binary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  mime: str = "text/plain") -> DataFrame:
    """Treat a source column as an opaque media payload: binary + metadata."""
    content = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        content.alias("content"),
        F.octet_length(content).cast("long").alias("byte_len"),
        F.md5(content).alias("content_md5"),
        F.lit(mime).alias("mime"),
    )


def decode_features(media: DataFrame, fake: bool = False,
                    batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched media decode via ``mapInPandas``.

    Real decode is unavailable here (no pillow/ffmpeg in the container) and
    raises ``NotImplementedError``. ``fake=True`` derives deterministic
    pseudo-features from the raw bytes so the distributed plumbing (schema,
    batch shape, partition parallelism) is fully exercised.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires imaging libraries not present "
                    "in this environment; pass fake=True for the "
                    "deterministic byte-derived stub"
                )
            b = pdf["content"]
            n = b.map(len)
            first = b.map(lambda x: x[0] if len(x) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": n,
                    "width": n % 640 + 64,
                    "height": n % 480 + 48,
                    "n_channels": 3,
                    "mean_intensity": first / 255.0,
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


PNG_SIG_HEX = "89504E470D0A1A0A"

# JPEG SOFn markers that carry frame dimensions (C4=DHT, C8=JPG, CC=DAC are
# NOT frame headers and are excluded per the JPEG marker assignments).
_JPEG_SOF_MARKERS = [
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
]


def _be_uint(col: Column) -> Column:
    """Big-endian unsigned int from a binary slice (JVM-side: hex + conv)."""
    return F.conv(F.hex(col), 16, 10).cast("long")


def image_kind(content: Column) -> Column:
    """'png' / 'jpeg' / 'unknown' by magic-number sniff — pure column ops."""
    return (
        F.when(F.hex(F.substring(content, 1, 8)) == PNG_SIG_HEX, "png")
        .when(F.hex(F.substring(content, 1, 2)) == "FFD8", "jpeg")
        .otherwise("unknown")
    )


def png_dimensions(content: Column) -> tuple[Column, Column]:
    """(width, height) from a real PNG header — pure column ops.

    PNG fixes the IHDR chunk directly after the 8-byte signature, so width
    and height are big-endian u32 at byte offsets 16 and 20 (1-based
    substring positions 17 / 21). Validated like the JPEG walker: the
    stream must actually contain the full 8-byte dimensions field AND the
    chunk at offset 12 must really be "IHDR" with positive dimensions —
    a truncated or non-IHDR payload yields NULL/NULL, never a number
    decoded from whatever bytes happened to be there. No Python UDF:
    substring + hex + conv stay inside whole-stage codegen.
    """
    ok = (
        (F.octet_length(content) >= 24)
        & (F.hex(F.substring(content, 13, 4)) == "49484452")  # "IHDR"
    )
    w = _be_uint(F.substring(content, 17, 4))
    h = _be_uint(F.substring(content, 21, 4))
    return (
        F.when(ok & (w > 0), w),
        F.when(ok & (h > 0), h),
    )


def jpeg_dimensions(content: Column, max_segments: int = 24) -> tuple[Column, Column]:
    """(width, height) from a real JPEG header — pure column ops.

    JPEG stores dimensions in a SOFn segment at a variable offset, so the
    marker-segment chain must be walked: each segment is 0xFF, marker id,
    big-endian u16 length (length includes itself), payload. The walk is an
    ``F.aggregate`` fold over a bounded step sequence — the accumulator
    struct carries (pos, w, h, done), each step either captures the SOF
    dimensions (height u16 at payload offset +3, width at +5), stops at
    SOS/EOI/corruption, or hops ``2 + length`` to the next marker. A fold
    keeps the expression LINEAR in ``max_segments`` (a hand-unrolled chain
    would nest the position expression exponentially) and stays JVM-side —
    no Python UDF, no explode, no shuffle.

    ``max_segments`` bounds the walk; headers hold well under 24 segments
    before SOS in practice (APPn/DQT/DHT/COM), and an unfound SOF yields
    NULL dimensions rather than an error.
    """
    zero = F.lit(0).cast("long")

    def byte_at(pos: Column) -> Column:
        return _be_uint(content.substr(pos.cast("int"), F.lit(1)))

    def be16(pos: Column) -> Column:
        return _be_uint(content.substr(pos.cast("int"), F.lit(2)))

    acc0 = F.struct(
        F.lit(3).cast("long").alias("pos"),  # 1-based, after the FFD8 SOI
        zero.alias("w"), zero.alias("h"), F.lit(False).alias("done"),
    )

    def step(acc: Column, _: Column) -> Column:
        pos = acc["pos"]
        in_bounds = F.coalesce(F.octet_length(content).cast("long") >= pos + 3,
                               F.lit(False))
        is_seg = in_bounds & F.coalesce(byte_at(pos) == 0xFF, F.lit(False))
        marker = F.coalesce(byte_at(pos + 1), zero)
        is_sof = is_seg & marker.isin(_JPEG_SOF_MARKERS)
        # stop on corruption, entropy-coded data start (SOS=DA) or EOI (D9)
        stop = acc["done"] | ~is_seg | marker.isin(0xDA, 0xD9) | is_sof
        # capture only if the full 9-byte SOF prefix (marker, length,
        # precision, height, width) is in bounds — a truncated SOF must
        # yield NULL/NULL, not a height with no width
        take = ~acc["done"] & is_sof & F.coalesce(
            F.octet_length(content).cast("long") >= pos + 8, F.lit(False)
        )
        seg_len = F.coalesce(be16(pos + 2), zero)
        return F.struct(
            F.when(stop, pos).otherwise(pos + 2 + seg_len).alias("pos"),
            F.when(take, F.coalesce(be16(pos + 7), zero)).otherwise(acc["w"]).alias("w"),
            F.when(take, F.coalesce(be16(pos + 5), zero)).otherwise(acc["h"]).alias("h"),
            stop.alias("done"),
        )

    fin = F.aggregate(F.sequence(F.lit(1), F.lit(max_segments)), acc0, step)
    return (
        F.when(fin["w"] > 0, fin["w"]),
        F.when(fin["h"] > 0, fin["h"]),
    )


def decode_image_dimensions(media: DataFrame,
                            content_col: str = "content") -> DataFrame:
    """REAL (non-stub) image metadata decode for PNG and JPEG headers:
    (doc_id, kind, width, height) extracted from the actual bytes with pure
    column expressions — whole-stage codegen, no Python UDF, no imaging
    library. Non-image payloads come back kind='unknown' with NULL dims.

    This removes the documented decode stub for the dimensions use-case;
    pixel-level features still require a real codec (``decode_features``).
    """
    c = F.col(content_col)
    png_w, png_h = png_dimensions(c)
    jpg_w, jpg_h = jpeg_dimensions(c)
    kind = image_kind(c)
    return media.select(
        "doc_id",
        kind.alias("kind"),
        F.when(kind == "png", png_w).when(kind == "jpeg", jpg_w).alias("width"),
        F.when(kind == "png", png_h).when(kind == "jpeg", jpg_h).alias("height"),
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 100) -> DataFrame:
    """Frame-sampling plumbing: explode one row per sampled 'frame' offset
    (deterministic stand-in for video frame extraction; pure column ops)."""
    n_frames = F.greatest(F.lit(1), (F.col("byte_len") / every_n_bytes).cast("long"))
    return media.select(
        "doc_id", "byte_len",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n_bytes)


# ---------------------------------------------------------------------------
# REAL pixel decode: 24-bit uncompressed BMP (no imaging library needed)
# ---------------------------------------------------------------------------

BMP_PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("pixel_md5", StringType()),
    ]
)


def build_bmp(pixels) -> bytes:
    """Serialize an HxWx3 uint8 RGB array into a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up row order, BGR byte order, rows padded to
    4 bytes) — the format every decoder must reproduce byte-for-byte.
    Test/fabrication helper; the decoder below must invert it exactly."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):          # bottom-up storage
        row = px[y][:, ::-1]                # RGB -> BGR
        body += row.tobytes() + b"\x00" * pad
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return bytes(header + info + body)


def bmp_rgb_array(doc_id, b: bytes):
    """Decode one 24-bit uncompressed BMP byte string into a top-down
    row-major HxWx3 RGB uint8 array — the single production pixel-decode
    core shared by :func:`decode_bmp_pixels` and the perceptual-hash
    operators (media_dedup.py), so a decode fix lands everywhere at once."""
    import struct

    import numpy as np

    if b[:2] != b"BM":
        raise ValueError(f"doc {doc_id}: not a BMP payload")
    data_offset = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        raise ValueError(
            f"doc {doc_id}: unsupported BMP (bpp={bpp}, "
            f"compression={compression}, w={w}, h={h})")
    bottom_up = h > 0
    h_abs = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    grid = np.frombuffer(
        b, dtype=np.uint8, count=stride * h_abs, offset=data_offset
    ).reshape(h_abs, stride)[:, : w * 3].reshape(h_abs, w, 3)
    if bottom_up:
        grid = grid[::-1]
    return grid[:, :, ::-1]                 # BGR -> RGB


def wav_pcm_array(doc_id, b: bytes):
    """Decode one RIFF/WAVE PCM16 byte string into (sample_rate,
    n_channels, int16 sample array) — the production audio-decode core
    shared by :func:`decode_wav_features` and the fingerprint operators."""
    import struct

    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a RIFF/WAVE payload")
    pos, fmt_seen, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            fmt_seen = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data = b[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)        # chunks are word-aligned
    if fmt_seen is None or data is None:
        raise ValueError(f"doc {doc_id}: missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt_seen
    if audio_fmt != 1 or bits != 16:
        raise ValueError(
            f"doc {doc_id}: unsupported WAV (fmt={audio_fmt}, "
            f"bits={bits}) — PCM16 only without codec libs")
    return rate, n_ch, np.frombuffer(data, dtype="<i2")


def decode_bmp_pixels(media: DataFrame) -> DataFrame:
    """REAL pixel-level decode for 24-bit uncompressed BMP content — the
    one raster format decodable with zero imaging dependencies, so the
    pixel path stops being a stub: header fields are parsed (little-endian
    offsets/width/height/bpp/compression), the bottom-up padded BGR pixel
    grid is re-ordered to row-major top-down RGB with numpy, and the
    output carries exact integer channel sums plus the md5 of the
    canonical RGB buffer (hashable evidence the PIXELS are right, not
    just the dimensions).

    Arrow-batched ``mapInPandas``: each batch decodes with vectorized
    numpy slicing per image — the same shape a pillow/ffmpeg extractor
    plugs into at 100 TB (partition-parallel, no shuffle). Non-BMP or
    unsupported (compressed / non-24bpp) content raises ValueError —
    quarantine upstream, don't guess."""
    import hashlib
    import struct

    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixels",
                                   "sum_r", "sum_g", "sum_b", "pixel_md5")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                rgb = bmp_rgb_array(doc_id, bytes(buf))
                h_abs, w, _ = rgb.shape
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h_abs)
                out["n_pixels"].append(w * h_abs)
                out["sum_r"].append(int(rgb[:, :, 0].sum(dtype=np.int64)))
                out["sum_g"].append(int(rgb[:, :, 1].sum(dtype=np.int64)))
                out["sum_b"].append(int(rgb[:, :, 2].sum(dtype=np.int64)))
                out["pixel_md5"].append(
                    hashlib.md5(np.ascontiguousarray(rgb).tobytes()).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, BMP_PIXEL_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio decode: 16-bit PCM WAV (RIFF) — no codec library needed
# ---------------------------------------------------------------------------

WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_channels", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_sq", LongType()),
        StructField("sample_md5", StringType()),
    ]
)


def build_wav(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    """Serialize int16 PCM samples (frames x channels, interleaved) into a
    canonical RIFF/WAVE file (fmt + data chunks). Fabrication/test helper;
    :func:`decode_wav_features` must invert it exactly."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).reshape(-1, n_channels)
    body = pcm.tobytes()  # little-endian int16, interleaved
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, n_channels,
                      sample_rate, byte_rate, n_channels * 2, 16)
    data = struct.pack("<4sI", b"data", len(body)) + body
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL audio decode for 16-bit PCM WAV — RIFF chunk walk (fmt then
    data, skipping unknown chunks), then vectorized numpy over the sample
    buffer: exact integer peak |amplitude| and energy (Σ s², the RMS
    numerator — kept integral so the result is hash-exact), duration in
    whole ms, and the md5 of the raw PCM buffer. Arrow-batched
    ``mapInPandas``, partition-parallel, no shuffle — the slot a real
    codec (ffmpeg) extractor occupies for compressed audio at 100 TB.
    Compressed or non-16-bit-PCM content raises ValueError."""
    import hashlib
    import struct

    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                   "n_samples", "duration_ms", "peak_abs",
                                   "sum_sq", "sample_md5")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                rate, n_ch, pcm = wav_pcm_array(doc_id, bytes(buf))
                n_frames = len(pcm) // n_ch
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_channels"].append(n_ch)
                out["n_samples"].append(n_frames)
                out["duration_ms"].append(n_frames * 1000 // rate)
                a64 = pcm.astype(np.int64)
                out["peak_abs"].append(int(np.abs(a64).max()) if len(pcm) else 0)
                out["sum_sq"].append(int((a64 * a64).sum()))
                out["sample_md5"].append(hashlib.md5(pcm.tobytes()).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, WAV_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL video container decode: AVI (RIFF) frame index — no codec needed
# ---------------------------------------------------------------------------

AVI_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("frame_rate_us", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def build_avi(frames, frame_rate_us: int = 40000, width: int = 64,
              height: int = 48) -> bytes:
    """Serialize per-frame payload bytes into a minimal valid AVI: RIFF
    'AVI ' -> LIST hdrl (avih main header) -> LIST movi with one '00dc'
    chunk per frame (word-aligned). Frame payloads are opaque (a real
    file would hold compressed video frames); the container structure is
    the real AVI layout. Fabrication/test helper."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return struct.pack("<4sI", cid, len(body)) + body + pad

    avih = struct.pack("<IIIIIIIIIIIIII", frame_rate_us, 0, 0, 0,
                       len(frames), 0, 1, 0, width, height, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi_body = b"movi" + b"".join(chunk(b"00dc", bytes(f)) for f in frames)
    movi = chunk(b"LIST", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(riff_body)) + riff_body


def sample_avi_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video-container decode: walk an actual AVI RIFF tree (hdrl's
    avih main header for frame count / rate / dimensions, then the movi
    LIST's '00dc' frame chunks) and emit every ``every_n``-th frame's
    index, size, and payload md5 — frame SAMPLING without frame
    DECODING, which is exactly how a 100 TB video pipeline subsamples
    before handing selected frames to a codec stage. Word-aligned chunk
    skipping, unknown chunks ignored; a non-AVI payload raises."""
    import hashlib
    import struct

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_frames", "frame_rate_us",
                                   "width", "height", "frame_idx",
                                   "frame_bytes", "frame_md5")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
                    raise ValueError(f"doc {doc_id}: not a RIFF/AVI payload")
                n_frames = rate = w = h = None
                frames = []

                def walk(start: int, end: int) -> None:
                    nonlocal n_frames, rate, w, h
                    pos = start
                    while pos + 8 <= end:
                        cid = b[pos:pos + 4]
                        size = struct.unpack_from("<I", b, pos + 4)[0]
                        body_start = pos + 8
                        if cid == b"LIST":
                            walk(body_start + 4, body_start + size)
                        elif cid == b"avih":
                            vals = struct.unpack_from("<IIIIIIIIII", b, body_start)
                            rate, n_frames, w, h = (vals[0], vals[4],
                                                    vals[8], vals[9])
                        elif cid == b"00dc":
                            if body_start + size > len(b):
                                raise ValueError(
                                    f"frame chunk truncated at byte "
                                    f"{body_start}: declares {size} bytes, "
                                    f"payload ends at {len(b)}")
                            frames.append(b[body_start:body_start + size])
                        pos = body_start + size + (size & 1)

                walk(12, len(b))
                if n_frames is None:
                    raise ValueError(f"doc {doc_id}: missing avih header")
                if len(frames) != n_frames:
                    raise ValueError(
                        f"doc {doc_id}: header says {n_frames} frames, "
                        f"movi holds {len(frames)}")
                for idx in range(0, len(frames), every_n):
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(n_frames)
                    out["frame_rate_us"].append(rate)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(frames[idx]))
                    out["frame_md5"].append(
                        hashlib.md5(frames[idx]).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, AVI_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image resize: nearest-neighbor over decoded BMP pixel grids
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", LongType()),
        StructField("src_h", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("pixels_csv", StringType()),
    ]
)


def resize_bmp_images(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """REAL nearest-neighbor resize over decoded BMP pixels — the resize
    stage of a multimodal preprocessing pipeline, executable with zero
    imaging dependencies.

    Source mapping is the standard floor rule ``src = (dst * src_dim) //
    out_dim`` (pure integer — both engines and any reimplementation land
    on identical sample points), applied to the row-major top-down RGB
    array recovered by :func:`bmp_rgb_array` (which itself undoes BMP
    bottom-up row order, BGR byte order, and row padding).  Output
    carries exact integer channel sums of the RESIZED image plus the
    resized pixel buffer as a canonical comma-joined decimal string
    (md5-able identically by any engine).

    Scale shape: Arrow-batched ``mapInPandas``, partition-parallel, no
    shuffle; swapping the numpy kernel for pillow/OpenCV bilinear at
    100 TB changes nothing about the plumbing (schema, batching,
    partitioning) — which is exactly the part this operator makes real
    and tested."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "src_w", "src_h", "out_w",
                                   "out_h", "sum_r", "sum_g", "sum_b",
                                   "pixels_csv")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                rgb = bmp_rgb_array(doc_id, bytes(buf))
                h, w, _ = rgb.shape
                sy = (np.arange(out_h) * h) // out_h
                sx = (np.arange(out_w) * w) // out_w
                rz = rgb[sy][:, sx].astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["out_w"].append(out_w)
                out["out_h"].append(out_h)
                out["sum_r"].append(int(rz[:, :, 0].sum()))
                out["sum_g"].append(int(rz[:, :, 1].sum()))
                out["sum_b"].append(int(rz[:, :, 2].sum()))
                out["pixels_csv"].append(
                    ",".join(map(str, rz.reshape(-1).tolist())))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, RESIZE_SCHEMA)
