"""Media-dedup gates: perceptual image hashing and audio fingerprinting,
oracle-checked end-to-end through the REAL byte-level decoders.

Each gate synthesizes media bytes deterministically from doc_id (the
sandbox has no imaging/codec libs, so content is fabricated — but the
BYTES are real BMP/WAV files), pushes them through the production decode
cores (multimodal.bmp_rgb_array / wav_pcm_array: bottom-up padded BGR
inversion, RIFF chunk walk), and derives integer-only perceptual
signatures from the DECODED arrays. The DuckDB oracle reproduces the
expected signatures arithmetically (generate_series pixel/sample grids),
so any regression in build or decode — row order, byte order, padding,
chunk alignment — changes the Spark-side hashes and breaks the value
hash. Pair generation is banded/bucketed (see operators/media_dedup.py),
never all-pairs; the oracle may brute-force because DuckDB only ever
sees sf-scale data.

Float parity: everything here is integer arithmetic (class 1 exact) —
grays, energies, hamming distances, fingerprints. The only strings are
md5 hex digests computed identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import register, t
from .worker import install_zip_stamps

_BASES_SQL = """
    bases AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN (doc_id // 10) % 25
                    ELSE 10000 + doc_id END AS base
        FROM documents
    )
"""

# CTE fragment (no WITH) so other registries can compose it into their
# own WITH RECURSIVE chains (cross-modal dedup); _IMAGE_HASH_SQL below
# stays byte-identical to the pre-split definition.
_IMAGE_HASH_CTES = f"""{_BASES_SQL},
    g AS (
        SELECT doc_id, x, y,
               CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
                    THEN ((base*(2*(y*8+x)+1) + 7*(y*8+x)*(y*8+x)) % 256 + 96) % 256
                    ELSE (base*(2*(y*8+x)+1) + 7*(y*8+x)*(y*8+x)) % 256 END AS gray
        FROM bases,
             generate_series(0, 7) AS gx(x),
             generate_series(0, 7) AS gy(y)
    ),
    tot AS (SELECT doc_id, SUM(gray) AS total FROM g GROUP BY doc_id),
    bits AS (
        SELECT g.doc_id, (y*8 + x) AS i,
               CASE WHEN 64*gray > total THEN 1 ELSE 0 END AS bit
        FROM g JOIN tot USING (doc_id)
    ),
    h AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS band0,
               CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS band1,
               CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS band2,
               CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS band3
        FROM bits GROUP BY doc_id
    )"""

_IMAGE_HASH_SQL = f"""
    WITH {_IMAGE_HASH_CTES}
"""


@register(
    "image_ahash_signatures",
    _IMAGE_HASH_SQL + "SELECT doc_id, band0, band1, band2, band3 FROM h",
)
def image_ahash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit aHash (as 4x16-bit bands) from DECODED BMP pixels;
    the oracle computes the expected hash arithmetically, so the whole
    build_bmp -> bmp_rgb_array -> threshold pipeline is hash-gated."""
    from .operators.media_dedup import image_ahash_signatures

    return image_ahash_signatures(t(spark, sf_dir, "documents"))


@register(
    "image_ahash_pairs",
    _IMAGE_HASH_SQL + """
    SELECT doc_a, doc_b, hamming FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.band0, b.band0))
                  + bit_count(xor(a.band1, b.band1))
                  + bit_count(xor(a.band2, b.band2))
                  + bit_count(xor(a.band3, b.band3)) AS BIGINT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def image_ahash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs at Hamming <= 3. Spark finds candidates
    via the banded (band_idx, band_val) equi-join — pigeonhole-complete
    for <= 3 differing bits over 4 bands — then verifies with
    bit_count(xor) on candidates only. The oracle brute-forces all pairs
    (sf-scale only), proving the banded path loses nothing."""
    from .operators.media_dedup import ahash_near_pairs, image_ahash_signatures

    sigs = image_ahash_signatures(t(spark, sf_dir, "documents"))
    return ahash_near_pairs(sigs, max_hamming=3)


_AUDIO_FP_SQL = f"""
    WITH {_BASES_SQL},
    s AS (
        SELECT doc_id, i,
               ((base*(2*i+17) + 13*i*i) % 4096) - 2048
               + CASE WHEN doc_id % 20 >= 10 AND i = doc_id % 256
                      THEN 999 ELSE 0 END AS samp
        FROM bases, generate_series(0, 255) AS gi(i)
    ),
    w AS (
        SELECT doc_id, i // 16 AS win, SUM(samp*samp) AS e
        FROM s GROUP BY doc_id, win
    ),
    tt AS (SELECT doc_id, SUM(e) AS total FROM w GROUP BY doc_id),
    fp AS (
        SELECT w.doc_id,
               CAST(SUM(CASE WHEN 16*e > total THEN (1 << win) ELSE 0 END) AS BIGINT) AS fingerprint
        FROM w JOIN tt USING (doc_id) GROUP BY w.doc_id
    ),
    sig AS (
        SELECT doc_id,
               md5(string_agg(CAST(samp AS VARCHAR), ',' ORDER BY i)) AS sample_sig
        FROM s GROUP BY doc_id
    )
"""


@register(
    "audio_fingerprint_signatures",
    _AUDIO_FP_SQL + """
    SELECT fp.doc_id, fp.fingerprint, sig.sample_sig
    FROM fp JOIN sig ON sig.doc_id = fp.doc_id
    """,
)
def audio_fingerprint_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit energy-profile fingerprint + md5 content signature
    from DECODED PCM samples; the oracle recomputes both arithmetically
    (md5 over the comma-joined decimal samples), pinning the WAV
    build -> chunk-walk decode -> windowed-energy pipeline sample-exact."""
    from .operators.media_dedup import audio_fingerprint_signatures

    return audio_fingerprint_signatures(t(spark, sf_dir, "documents"))


@register(
    "audio_fingerprint_pairs",
    _AUDIO_FP_SQL + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.fingerprint AS fingerprint,
           (sa.sample_sig = sb.sample_sig) AS same_audio
    FROM fp a
    JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    JOIN sig sa ON sa.doc_id = a.doc_id
    JOIN sig sb ON sb.doc_id = b.doc_id
    """,
)
def audio_fingerprint_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dup candidates sharing a fingerprint bucket, flagged exact
    when the decoded sample signatures match — the bucket key is the one
    shuffle; no all-pairs comparison on the Spark side."""
    from .operators.media_dedup import (
        audio_fingerprint_pairs,
        audio_fingerprint_signatures,
    )

    sigs = audio_fingerprint_signatures(t(spark, sf_dir, "documents"))
    return audio_fingerprint_pairs(sigs)


_RESIZE_SQL = f"""
    WITH {_BASES_SQL},
    dims AS (
        SELECT doc_id, base,
               8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
        FROM bases
    ),
    grid AS (
        SELECT doc_id, base, w, h, dy, dx,
               ((dy * h) // 4) * w + ((dx * w) // 4) AS i
        FROM dims,
             generate_series(0, 3) AS gdy(dy),
             generate_series(0, 3) AS gdx(dx)
    ),
    px AS (
        SELECT doc_id, w, h, dy, dx,
               (base*(2*i+1) + 7*i*i) % 256 AS r,
               (3*((base*(2*i+1) + 7*i*i) % 256) + 17) % 256 AS g,
               (5*((base*(2*i+1) + 7*i*i) % 256) + 29) % 256 AS b
        FROM grid
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
           CAST(4 AS BIGINT) AS out_w, CAST(4 AS BIGINT) AS out_h,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           md5(string_agg(r || ',' || g || ',' || b, ','
                          ORDER BY dy, dx)) AS resized_md5
    FROM px
    GROUP BY doc_id, w, h
"""


@register("multimodal_resize_real", _RESIZE_SQL)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, oracle-gated pixel-exact: per document build an
    actual variable-size 24-bit BMP (8+doc_id%5 x 8+doc_id%3 — the size
    spread exercises every row-padding case), decode it through the
    production bmp_rgb_array, nearest-neighbor resize to 4x4
    (operators/multimodal.resize_bmp_images), and emit exact channel
    sums + an md5 over the canonical resized buffer.  The oracle
    recomputes the resized pixels ARITHMETICALLY (floor source mapping
    on a generate_series grid), so a regression anywhere in build ->
    padded-BGR-bottom-up decode -> resample -> canonicalize flips the
    hash."""
    from pyspark.sql import functions as F

    from .operators.media_dedup import _media_base
    from .operators.multimodal import build_bmp, resize_bmp_images

    import pandas as pd
    from collections.abc import Iterator

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        install_zip_stamps()
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "content": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 5, 8 + doc_id % 3
                ys, xs = np.mgrid[0:h, 0:w]
                ii = ys * w + xs
                base = _media_base(doc_id)
                g = (base * (2 * ii + 1) + 7 * ii * ii) % 256
                px = np.stack(
                    [g, (3 * g + 17) % 256, (5 * g + 29) % 256], axis=-1
                ).astype(np.uint8)
                out["doc_id"].append(doc_id)
                out["content"].append(build_bmp(px))
            yield pd.DataFrame(out)

    media = (t(spark, sf_dir, "documents").select("doc_id")
             .mapInPandas(gen, "doc_id long, content binary"))
    rz = resize_bmp_images(media, out_w=4, out_h=4)
    return rz.select(
        "doc_id", "src_w", "src_h", "out_w", "out_h",
        "sum_r", "sum_g", "sum_b",
        F.md5("pixels_csv").alias("resized_md5"),
    )
