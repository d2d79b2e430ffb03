"""Coverage wave 10 — batching + encoder/tokenizer sizing diagnostics.

Three gates finishing the training-prep surface around what a batch
actually costs and how big the learned vocabularies/encoders need to be:

- length_bucket_batching: length-binned micro-batch assembly per source
  shard with exact padding-waste accounting — the dynamic-batching prep
  decision (pad-to-max within batch) priced per (source, bin);
- vocab_coverage_curve: OOV rate as a FUNCTION of vocabulary size (the
  tokenizer-sizing curve: K in 1..64 doubling), one frequency aggregate
  + a 64-row ranked head — extends the single-K oov_rate gate to the
  curve the sizing decision is read from;
- embedding_dim_stats: per-dimension corpus statistics (count, micro
  sum, mean) with dead/biased-dimension flags decided by INTEGER
  moment inequalities in decimal(38,0)/HUGEINT — the whitening-prep
  twin of embedding_norm_outliers, per dimension instead of per vector.

Scale shapes: batching windows are PARTITIONED BY (source, bin) — the
shard-local batching a real pipeline runs, never a global sort; the
coverage curve broadcasts a top-64 head against two scalar totals; the
dim stats are one posexplode + a 64-group hash aggregate (map-side
combinable, output cardinality = dim, independent of corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, t
from .registry_llm import _dot_chain  # noqa: F401 — shared float policy ref
from .registry_llm6 import _NTOK_DUCK, _NTOK_SPARK
from .sources.bronze import local_frame

_BIN_TOKENS = 16     # length-bin width (tokens)
_BATCH_DOCS = 8      # docs per micro-batch within a (source, bin)
_CURVE_KS = (1, 2, 4, 8, 16, 32, 64)


# =========================================================================
# length-binned batching with padding-waste accounting
# =========================================================================

@register(
    "length_bucket_batching",
    f"""
    WITH tk AS (
        SELECT doc_id, source, {_NTOK_DUCK} AS n_tokens FROM documents
    ),
    binned AS (
        SELECT doc_id, source, n_tokens, n_tokens // {_BIN_TOKENS} AS bin,
               ROW_NUMBER() OVER (
                   PARTITION BY source, n_tokens // {_BIN_TOKENS}
                   ORDER BY doc_id) AS rn
        FROM tk
    ),
    batches AS (
        SELECT source, bin, (rn - 1) // {_BATCH_DOCS} AS batch_id,
               COUNT(*) AS cnt, MAX(n_tokens) AS max_len,
               SUM(n_tokens) AS sum_len
        FROM binned GROUP BY source, bin, batch_id
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(sum_len) AS BIGINT) AS total_tokens,
           CAST(SUM(cnt * max_len) AS BIGINT) AS padded_tokens,
           CAST(SUM(cnt * max_len - sum_len) AS BIGINT) AS waste_tokens,
           CASE WHEN SUM(cnt * max_len) > 0
                THEN CAST(round(1e4 * SUM(cnt * max_len - sum_len)
                                / SUM(cnt * max_len)) AS BIGINT)
                ELSE NULL END AS waste_bp
    FROM batches
    GROUP BY source, bin
    """,
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching prep: docs bucket into {16}-token length bins per
    source shard, assemble into {8}-doc micro-batches in doc_id order,
    and each batch pads to its own max length — the report prices the
    padding waste (tokens padded minus tokens real, basis points) that
    length-binning exists to minimize. The ROW_NUMBER window is
    PARTITIONED BY (source, bin) — shard-local batching, the same
    parallel-by-construction shape as sequence_packing; a global
    length-sorted batcher would serialize on one partition and is
    exactly what this gate avoids. Counts/sums are integers end to end;
    waste_bp reuses the proven round(1e4·a/b) emission."""
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source",
        F.expr(_NTOK_SPARK).cast("long").alias("n_tokens"))
    binned = tk.withColumn(
        "bin", F.expr(f"n_tokens div {_BIN_TOKENS}")
    ).withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("source", "bin").orderBy("doc_id")))
    batches = (
        binned.withColumn("batch_id", F.expr(f"(rn - 1) div {_BATCH_DOCS}"))
        .groupBy("source", "bin", "batch_id")
        .agg(F.count("*").alias("cnt"),
             F.max("n_tokens").alias("max_len"),
             F.sum("n_tokens").alias("sum_len"))
    )
    padded = F.sum(F.col("cnt") * F.col("max_len"))
    waste = F.sum(F.col("cnt") * F.col("max_len") - F.col("sum_len"))
    return batches.groupBy("source", F.col("bin").cast("long").alias("bin")).agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_batches"),
        F.sum("sum_len").cast("long").alias("total_tokens"),
        padded.cast("long").alias("padded_tokens"),
        waste.cast("long").alias("waste_tokens"),
        F.when(padded > 0,
               F.round(F.lit(1e4) * waste / padded).cast("long"))
        .otherwise(F.lit(None)).alias("waste_bp"),
    )


# =========================================================================
# OOV rate vs vocabulary size — the tokenizer-sizing curve
# =========================================================================

@register(
    "vocab_coverage_curve",
    f"""
    WITH toks AS (
        SELECT tok
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
    ),
    wc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    head AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
        FROM wc ORDER BY c DESC, tok LIMIT {max(_CURVE_KS)}
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_instances,
                   CAST(COUNT(*) AS BIGINT) AS total_types
            FROM wc),
    ks AS (SELECT unnest(ARRAY{list(_CURVE_KS)}) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(COUNT(head.rn) AS BIGINT) AS vocab_types,
           CAST(COALESCE(SUM(head.c), 0) AS BIGINT) AS covered_instances,
           tot.total_instances, tot.total_types,
           CAST(round(1e4 * (tot.total_instances - COALESCE(SUM(head.c), 0))
                      / tot.total_instances) AS BIGINT) AS oov_bp
    FROM ks CROSS JOIN tot LEFT JOIN head ON head.rn <= ks.k
    GROUP BY ks.k, tot.total_instances, tot.total_types
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: corpus OOV rate at vocabulary sizes K = 1,
    2, 4, ... 64 (count DESC, token ASC tie-break — deterministic). One
    frequency hash aggregate, ONE ranked 64-row head (TakeOrdered — no
    global sort materializes), and the whole curve is read from that
    broadcast head against two scalar totals, so pricing every candidate
    K costs the same as pricing one. Extends the fixed-K oov_rate gate
    to the curve the sizing decision actually consumes. Integer counts
    throughout; oov_bp is the proven round(1e4·a/b) emission."""
    docs = t(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.col("tok") != ""))
    wc = toks.groupBy("tok").agg(F.count("*").alias("c"))
    head = (wc.orderBy(F.desc("c"), F.asc("tok")).limit(max(_CURVE_KS))
            .withColumn("rn", F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("tok")))))
    tot = wc.agg(F.sum("c").cast("long").alias("total_instances"),
                 F.count("*").cast("long").alias("total_types"))
    ks = local_frame(spark, [(k,) for k in _CURVE_KS], "k long")
    return (
        ks.crossJoin(F.broadcast(tot))
        .join(F.broadcast(head), F.col("rn") <= F.col("k"), "left")
        .groupBy("k", "total_instances", "total_types")
        .agg(F.count("rn").cast("long").alias("vocab_types"),
             F.coalesce(F.sum("c"), F.lit(0)).cast("long")
             .alias("covered_instances"))
        .select(
            "k", "vocab_types", "covered_instances",
            "total_instances", "total_types",
            F.round(F.lit(1e4)
                    * (F.col("total_instances") - F.col("covered_instances"))
                    / F.col("total_instances")).cast("long").alias("oov_bp"),
        )
    )


# =========================================================================
# per-dimension embedding statistics — whitening / dead-dim diagnostics
# =========================================================================

@register(
    "embedding_dim_stats",
    """
    WITH el AS (
        SELECT r.i - 1 AS dim,
               CAST(round(CAST(e.embedding[r.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) r
    ),
    st AS (
        SELECT dim,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(q) AS HUGEINT) AS s,
               SUM(CAST(q AS HUGEINT) * q) AS qq
        FROM el GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS sum_micro,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_micro,
           CAST(CASE WHEN 200 * abs(s) > n * 1000000 THEN 1 ELSE 0 END
                AS INT) AS is_biased,
           CAST(CASE WHEN n * qq - s * s < n * n * 10000000000 THEN 1 ELSE 0
                END AS INT) AS is_low_var
    FROM st
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension encoder QC (whitening prep): for each of the 64
    embedding dimensions, the corpus count, micro-quantized sum, exact
    mean (one int/int double division), and two flags — is_biased when
    |mean| > 0.005 (200·|S| > n·1e6) and is_low_var when the population
    variance is under (0.1)² (n·Q − S² < n²·1e10) — both INTEGER moment
    inequalities, so no float comparison can flip a flag cross-engine.
    Accumulators run in decimal(38,0) on Spark / HUGEINT on DuckDB (the
    embedding_norm_outliers device: q² ~1e11 per element would wrap a
    BIGINT Q past ~1e8 rows; the decimal form is exact to ~1e12 rows via
    the n·Q product). Shape: posexplode + one 64-group hash aggregate —
    map-side combinable, output cardinality = dim count, independent of
    corpus size; the dead/biased flags are the per-dimension twin of the
    per-vector norm-outlier gate."""
    e = t(spark, sf_dir, "embeddings")
    el = e.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("q"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — headroom casts
    st = el.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("q"))).alias("s"),
        F.sum(dec(F.col("q")) * F.col("q")).alias("qq"))
    return st.select(
        F.col("dim").cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("sum_micro"),
        (F.col("s").cast("double") / F.col("n").cast("double"))
        .alias("mean_micro"),
        F.when(F.lit(200) * F.abs(F.col("s")) > dec(F.col("n")) * F.lit(1000000), 1)
        .otherwise(0).cast("int").alias("is_biased"),
        F.when(dec(F.col("n")) * F.col("qq") - F.col("s") * F.col("s")
               < dec(F.col("n")) * F.col("n") * F.lit(10000000000), 1)
        .otherwise(0).cast("int").alias("is_low_var"),
    )
