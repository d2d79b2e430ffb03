"""Perceptual media deduplication: average-hash (aHash) over decoded BMP
pixels and energy-profile fingerprints over decoded PCM audio, with
banded/bucketed candidate generation — the multimodal twin of the text
MinHash/SimHash toolkit (operators/dedup.py).

The reference has no media surface at all (its scope ends at EVM logs —
src/transform/etl_pipeline.py); these operators extend the engine toward
the LLM-training-data pipeline the brief names first-class: image/audio
near-dup detection at 100 TB.

Design — the same scale shape as SimHash (dedup.py):

1. **Signatures are row-local.** Each document's media bytes decode and
   hash inside one Arrow batch (``mapInPandas``) — zero shuffle, the cost
   is one scan of the media column.
2. **Candidates come from bucketed equi-joins, never all-pairs.** The
   64-bit aHash splits into 4x16-bit bands; by pigeonhole, Hamming
   distance <= 3 implies at least one band matches exactly, so a
   self-equi-join on (band_idx, band_val) finds every near-dup pair
   while shuffling only docs x 4 band rows. Audio fingerprints are a
   single 16-bit bucket key (exact-match semantics).
3. **Verification is candidate-bounded.** Exact Hamming via
   ``bit_count(xor)`` runs on the candidate set only — JVM codegen, no
   Python.

The decode path is the PRODUCTION one: signatures are computed from the
pixel/sample arrays returned by ``multimodal.bmp_rgb_array`` /
``wav_pcm_array`` (the same cores behind decode_bmp_pixels /
decode_wav_features), so the oracle gate proves build -> decode -> hash
end-to-end: a decoder regression (padding, bottom-up, BGR, chunk walk)
changes the hashes and breaks the DuckDB hash comparison.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..worker import install_zip_stamps
from .multimodal import bmp_rgb_array, build_bmp, build_wav, wav_pcm_array

AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band0", LongType()),
        StructField("band1", LongType()),
        StructField("band2", LongType()),
        StructField("band3", LongType()),
    ]
)

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fingerprint", LongType()),
        StructField("sample_sig", StringType()),
    ]
)


def _media_base(doc_id: int) -> int:
    """Deterministic content class: every 10th doc belongs to one of 25
    near-duplicate classes; all others get a unique base. Mirrored
    arithmetically by the DuckDB oracles (registry_media.py)."""
    return (doc_id // 10) % 25 if doc_id % 10 == 0 else 10000 + doc_id


def image_ahash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> 64-bit average-hash as 4x16-bit bands, computed from
    DECODED pixels of a synthesized 8x8 24-bit BMP.

    Per doc: gray at bit index i = y*8 + x is
    (base*(2i+1) + 7*i*i) % 256 — the per-pixel odd multiplier
    decorrelates hashes across bases (a shared multiplier makes every
    gradient image collide at Hamming <= 3, turning the detector into
    noise) — with one noised pixel at (doc_id % 8, (doc_id // 8) % 8)
    (gray + 96 mod 256); the
    RGB channels differ (R=gray, G=3g+17, B=5g+29 mod 256) so a BGR-order
    decode bug cannot cancel out; the aHash bit i (= y*8 + x) is
    64*R(x,y) > sum(R), an integer-only threshold both engines reproduce
    bit-for-bit. The BMP roundtrip (build_bmp -> bmp_rgb_array) exercises
    bottom-up row order, BGR byte order, and row padding."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        ys, xs = np.mgrid[0:8, 0:8]         # [y][x] row-major grids
        ii = ys * 8 + xs                    # aHash bit index per cell
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "band0", "band1", "band2", "band3")}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                base = _media_base(doc_id)
                g = (base * (2 * ii + 1) + 7 * ii * ii) % 256
                nx, ny = doc_id % 8, (doc_id // 8) % 8
                g = g.copy()
                g[ny, nx] = (g[ny, nx] + 96) % 256
                px = np.stack(
                    [g, (g * 3 + 17) % 256, (g * 5 + 29) % 256], axis=-1
                ).astype(np.uint8)
                rgb = bmp_rgb_array(doc_id, build_bmp(px))   # production decode
                r = rgb[:, :, 0].astype(np.int64)
                total = int(r.sum())
                bits = (64 * r.reshape(-1) > total)          # index = y*8 + x
                bands = [0, 0, 0, 0]
                for i in range(64):
                    if bits[i]:
                        bands[i // 16] |= 1 << (i % 16)
                out["doc_id"].append(doc_id)
                for j in range(4):
                    out[f"band{j}"].append(bands[j])
            yield pd.DataFrame(out)

    return docs.select("doc_id").mapInPandas(gen, AHASH_SCHEMA)


def ahash_near_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair within ``max_hamming`` bits.

    Banded candidate generation: explode the 4 bands, self-equi-join on
    (band_idx, band_val) — by pigeonhole this finds every pair with
    Hamming <= 3 (4 bands, at most 3 differing bits leave one band
    untouched); exact Hamming verification via bit_count(xor) runs only
    on candidates. One shuffle on the band key; never all-pairs."""
    if max_hamming > 3:
        # pigeonhole over 4 fixed bands only covers <= 3 differing bits;
        # a larger radius would silently lose pairs (a 4-bit pair can
        # differ in every band). More bands = a different signature
        # schema, so reject rather than under-recall.
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band pigeonhole "
            "guarantee (<= 3); re-band the signatures instead")
    bands = signatures.select(
        "doc_id",
        F.posexplode(F.array("band0", "band1", "band2", "band3")).alias(
            "band_idx", "band_val"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ha = signatures.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"band{j}").alias(f"_a{j}") for j in range(4)],
    )
    hb = signatures.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"band{j}").alias(f"_b{j}") for j in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"_a{j}").bitwiseXOR(F.col(f"_b{j}")))
        for j in range(4)
    ).cast("long")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def audio_fingerprint_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> 16-bit energy-profile fingerprint + exact sample
    signature, computed from DECODED PCM of a synthesized 256-sample WAV.

    Per doc: s(i) = ((base*(2i+17) + 13*i*i) % 4096) - 2048 (per-sample
    multiplier, same decorrelation rationale as the image hash), with sample
    (doc_id % 256) shifted by +999 for docs with doc_id % 20 >= 10 —
    so near-dup classes contain both pristine (exact-equal) and noised
    members. Fingerprint bit w (16 windows of 16 samples) is
    16 * energy(w) > total_energy, integer-only. ``sample_sig`` is the
    md5 of the comma-joined decimal sample values — a cross-engine exact
    content signature (DuckDB: md5(string_agg(...)))."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_stamps()
        idx = np.arange(256, dtype=np.int64)
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "fingerprint", "sample_sig")}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                base = _media_base(doc_id)
                s = ((base * (2 * idx + 17) + 13 * idx * idx) % 4096) - 2048
                if doc_id % 20 >= 10:
                    s = s.copy()
                    s[doc_id % 256] += 999
                _, _, pcm = wav_pcm_array(doc_id, build_wav(s))  # production decode
                a = pcm.astype(np.int64)
                e = (a * a).reshape(16, 16).sum(axis=1)
                total = int(e.sum())
                fp = 0
                for w in range(16):
                    if 16 * int(e[w]) > total:
                        fp |= 1 << w
                sig = hashlib.md5(
                    ",".join(str(int(v)) for v in a).encode()
                ).hexdigest()
                out["doc_id"].append(doc_id)
                out["fingerprint"].append(fp)
                out["sample_sig"].append(sig)
            yield pd.DataFrame(out)

    return docs.select("doc_id").mapInPandas(gen, AUDIO_FP_SCHEMA)


def audio_fingerprint_pairs(signatures: DataFrame) -> DataFrame:
    """(doc_a, doc_b, fingerprint, same_audio): pairs sharing the 16-bit
    fingerprint bucket, flagged exact when the decoded sample signatures
    match. The fingerprint IS the shuffle key — one equi-join, no
    all-pairs comparison; at scale the bucket key partitions the corpus
    exactly like a dedup-hash groupBy."""
    a = signatures.select(
        F.col("doc_id").alias("doc_a"),
        "fingerprint",
        F.col("sample_sig").alias("_sig_a"),
    )
    b = signatures.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fingerprint").alias("_fp_b"),
        F.col("sample_sig").alias("_sig_b"),
    )
    return (
        a.join(
            b,
            (F.col("fingerprint") == F.col("_fp_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            "fingerprint",
            (F.col("_sig_a") == F.col("_sig_b")).alias("same_audio"),
        )
    )
