"""Coverage wave 17 — knob-pricing reports for the approximate-dedup and
ANN index families.

Wave 16 priced the exact-substring granularity knob; this wave prices
the remaining tunables a 100 TB curation run must choose before
committing a pass:

- ``minhash_band_sweep``: the LSH S-curve knob.  One K=8 engine-neutral
  md5 minhash family (the registry_llm6 ``minhash_estimate_error``
  device — xxhash64 production signatures cannot be replayed by an
  external engine, md5-keyed ones can) banded three ways over the SAME
  signatures: (8 bands × 1 row), (4 × 2), (2 × 4).  Per config:
  candidate count, recall and precision against the exact word-3-gram
  Jaccard >= 0.5 truth.  Because each coarser config's bands are unions
  of the finer config's bands, candidates nest — (2,4) ⊆ (4,2) ⊆ (8,1)
  — so recall is provably monotone in band count (test_llm17 pins the
  containment).

- ``jaccard_threshold_sweep``: the near-dup threshold knob.  The exact
  pair inventory evaluated at 0.50 / 0.65 / 0.80 in one pass — pairs are
  computed ONCE at the loosest threshold and re-thresholded with pure
  integer arithmetic (1e4·inter >= t_bp·union, no float compare), so the
  three rows can never disagree with the pairwise gates they summarize.

- ``ivf_balance_report``: the ANN index-build QA artifact.  Per-cluster
  occupancy of the IVF coarse assignment (the semdedup seed-centroid
  convention: first 16 corpus vectors), with each cluster's corpus share
  and its size rank — the skew report an index build ships before anyone
  routes queries at it (a hot cluster is exactly a hot probe).

Scale shapes: the band sweep re-aggregates one (doc, i, hash) frame
three ways and bucket-joins per config (the LSH shape — never
all-pairs on the Spark side); the threshold sweep adds one 3-row
broadcast join over the existing pair inventory; the balance report is
one map-only assignment + one hash aggregate to k rows.

Reference scope: composes the reference's aggregation surface
(src/transform/etl_pipeline.py groupbys) with the LLM-pipeline
extension; no counterpart file exists — cited per SURVEY §6 as a scale
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, t
from .registry_llm import _SHINGLES_CTE
from .registry_llm6 import _MH_K
from .sources.bronze import local_frame

# the three (bands, rows_per_band) configs; bands * rows == _MH_K for
# all of them so one signature family serves the whole sweep, and each
# config's bands refine the next coarser one (the containment pin)
_BAND_CONFIGS = [(8, 1), (4, 2), (2, 4)]

# near-dup thresholds in basis points; 5000 matches the pairwise gates
_THRESHOLDS_BP = [5000, 6500, 8000]


# =========================================================================
# MinHash banding sweep — recall/precision per (bands, rows) config
# =========================================================================

def _band_cfg_ctes(bands: int, rows: int) -> str:
    """Per-config CTE chain over the shared ``sig`` relation: band
    signatures (ORDER BY i inside the band — deterministic), bucket
    self-join candidates, and the one summary row."""
    sfx = f"_{bands}_{rows}"
    return f"""bs{sfx} AS (
        SELECT doc_id, i // {rows} AS band,
               string_agg(h, ',' ORDER BY i) AS bsig
        FROM sig GROUP BY 1, 2
    ),
    cand{sfx} AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bs{sfx} a JOIN bs{sfx} b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    row{sfx} AS (
        SELECT CAST({bands} AS BIGINT) AS bands,
               CAST({rows} AS BIGINT) AS rows_per_band,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{sfx})
                   AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{sfx} c
                JOIN truth t ON t.d1 = c.d1 AND t.d2 = c.d2) AS n_overlap
    )"""


def _band_sweep_sql() -> str:
    cfg = ",\n    ".join(_band_cfg_ctes(b, r) for b, r in _BAND_CONFIGS)
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM row_{b}_{r}" for b, r in _BAND_CONFIGS)
    return f"""
    WITH {_SHINGLES_CTE},
    truth AS MATERIALIZED (
        SELECT d1, d2
        FROM ipair
        JOIN sz sa ON sa.doc_id = d1
        JOIN sz sb ON sb.doc_id = d2
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 5e-1
    ),
    sig AS (
        SELECT doc_id, ix.i,
               MIN(substr(md5(CAST(ix.i AS VARCHAR) || '|' || s), 1, 16)) AS h
        FROM sh CROSS JOIN (SELECT unnest(range(0, {_MH_K})) AS i) ix
        GROUP BY 1, 2
    ),
    {cfg},
    sweep AS (
        {rows}
    )
    SELECT bands, rows_per_band, n_candidates, n_true, n_overlap,
           CAST(CASE WHEN n_true = 0 THEN 0
                ELSE round(1e4 * n_overlap / n_true) END AS BIGINT)
               AS recall_bp,
           CAST(CASE WHEN n_candidates = 0 THEN 0
                ELSE round(1e4 * n_overlap / n_candidates) END AS BIGINT)
               AS precision_bp
    FROM sweep
    """


@register("minhash_band_sweep", _band_sweep_sql())
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of MinHash LSH candidate generation per banding
    config — see module docstring.  One signature build (the md5
    engine-neutral family), three band aggregations over it, three
    bucket equi-joins; the truth set is the exact-Jaccard inventory the
    pairwise dedup gates already verify against, so this sweep prices
    the knob in the same currency."""
    from .operators.dedup import ngram_jaccard_pairs, shingle_table

    docs = t(spark, sf_dir, "documents")
    sh = shingle_table(docs)
    sig = (
        sh.select("doc_id", "s",
                  F.explode(F.sequence(F.lit(0), F.lit(_MH_K - 1))).alias("i"))
        .groupBy("doc_id", "i")
        .agg(F.min(F.substring(
            F.md5(F.concat(F.col("i").cast("string"), F.lit("|"),
                           F.col("s"))), 1, 16)).alias("h"))
    )
    truth = ngram_jaccard_pairs(docs, threshold=0.5, oracle=True) \
        .select("d1", "d2")
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))

    rows = []
    for bands, r in _BAND_CONFIGS:
        bs = (
            sig.withColumn("band", F.expr(f"i div {r}"))
            .groupBy("doc_id", "band")
            .agg(F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "h"))),
                    lambda x: x["h"]),
                ",").alias("bsig"))
        )
        a = bs.select(F.col("doc_id").alias("d1"), "band", "bsig")
        b = bs.select(F.col("doc_id").alias("d2"),
                      F.col("band").alias("band_b"),
                      F.col("bsig").alias("bsig_b"))
        cand = (
            a.join(b, (F.col("band") == F.col("band_b"))
                   & (F.col("bsig") == F.col("bsig_b"))
                   & (F.col("d1") < F.col("d2")))
            .select("d1", "d2").distinct()
        )
        n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
        n_hit = cand.join(truth, ["d1", "d2"]) \
            .agg(F.count("*").cast("long").alias("n_overlap"))
        rows.append(
            n_cand.crossJoin(n_true).crossJoin(n_hit).select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                "n_candidates", "n_true", "n_overlap",
            )
        )
    sweep = rows[0]
    for extra in rows[1:]:
        sweep = sweep.unionAll(extra)
    return sweep.select(
        "bands", "rows_per_band", "n_candidates", "n_true", "n_overlap",
        F.when(F.col("n_true") == 0, F.lit(0)).otherwise(
            F.round(F.lit(1e4) * F.col("n_overlap") / F.col("n_true")))
        .cast("long").alias("recall_bp"),
        F.when(F.col("n_candidates") == 0, F.lit(0)).otherwise(
            F.round(F.lit(1e4) * F.col("n_overlap") / F.col("n_candidates")))
        .cast("long").alias("precision_bp"),
    )


# =========================================================================
# Jaccard threshold sweep — the near-dup cut evaluated at three settings
# =========================================================================

def _threshold_sweep_sql() -> str:
    thr = ", ".join(f"({t})" for t in _THRESHOLDS_BP)
    return f"""
    WITH {_SHINGLES_CTE},
    p AS MATERIALIZED (
        SELECT d1, d2, inter, sa.n + sb.n - inter AS un
        FROM ipair
        JOIN sz sa ON sa.doc_id = d1
        JOIN sz sb ON sb.doc_id = d2
        WHERE 10000 * inter >= {_THRESHOLDS_BP[0]} * (sa.n + sb.n - inter)
    ),
    thr(threshold_bp) AS (VALUES {thr}),
    hits AS (
        SELECT t.threshold_bp, p.d1, p.d2
        FROM thr t JOIN p ON 10000 * p.inter >= t.threshold_bp * p.un
    ),
    perth AS (
        SELECT threshold_bp,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (
            SELECT threshold_bp, d1 AS doc_id, d1, d2 FROM hits
            UNION ALL
            SELECT threshold_bp, d2 AS doc_id, d1, d2 FROM hits
        )
        GROUP BY threshold_bp
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT t.threshold_bp,
           COALESCE(p.n_pairs, 0) // 2 AS n_pairs,
           COALESCE(p.n_docs, 0) AS n_docs,
           CAST(round(1e4 * COALESCE(p.n_docs, 0) / tot.n) AS BIGINT)
               AS dup_rate_bp
    FROM thr t
    LEFT JOIN perth p USING (threshold_bp)
    CROSS JOIN tot
    ORDER BY t.threshold_bp
    """


@register("jaccard_threshold_sweep", _threshold_sweep_sql())
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup threshold priced at 0.50/0.65/0.80 from ONE exact
    pair inventory — membership is the pure-integer predicate
    10^4·inter >= t_bp·union, so no float compare can flip a row and
    the 0.50 line equals the pairwise dedup gates by construction.
    n_pairs halves a d1/d2 unpivot (each pair contributes one row per
    endpoint; the same unpivot feeds the distinct-doc count), dup_rate
    = affected docs over the corpus.

    Scale: the pair inventory is the ngram_jaccard cost (LSH-fed at
    100 TB); the sweep itself is a 3-row broadcast join + one
    (threshold, doc) aggregate."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, oracle=True).select(
        "d1", "d2", "inter",
        (F.col("n1") + F.col("n2") - F.col("inter")).alias("un"))
    thr = local_frame(spark, [(t,) for t in _THRESHOLDS_BP],
                      "threshold_bp long")
    hits = F.broadcast(thr).join(
        pairs, F.lit(10000) * F.col("inter")
        >= F.col("threshold_bp") * F.col("un"))
    ends = hits.select("threshold_bp", F.col("d1").alias("doc_id")) \
        .unionAll(hits.select("threshold_bp", F.col("d2").alias("doc_id")))
    perth = ends.groupBy("threshold_bp").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))
    return (
        F.broadcast(thr).join(perth, "threshold_bp", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold_bp",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.round(F.lit(1e4) * F.coalesce("n_docs", F.lit(0))
                    / F.col("n")).cast("long").alias("dup_rate_bp"),
        )
    )


# =========================================================================
# IVF occupancy/balance report — index-build QA for the ANN family
# =========================================================================

def _ivf_balance_sql() -> str:
    from .registry_llm3 import _semdedup_assigned_ctes

    return f"""
    WITH {_semdedup_assigned_ctes()},
    grp AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM assigned GROUP BY cluster_id
    ),
    tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n FROM grp)
    SELECT g.cluster_id, g.n_vecs,
           CAST(round(1e4 * g.n_vecs / t.n) AS BIGINT) AS share_bp,
           CAST(ROW_NUMBER() OVER (ORDER BY g.n_vecs DESC, g.cluster_id)
                AS BIGINT) AS size_rank
    FROM grp g CROSS JOIN tot t
    """


@register("ivf_balance_report", _ivf_balance_sql())
def ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster occupancy of the IVF coarse index (seed-centroid
    convention shared with semdedup_pairs / similarity_ann_ivf, so this
    report audits exactly the index those gates query): vector count,
    corpus share in basis points, and the size rank — the skew artifact
    that predicts hot probes and decides whether the codebook needs
    retraining before a 100 TB build.  Map-only assignment + one hash
    aggregate to k rows + one k-row window."""
    from .operators.similarity import assign_clusters

    e = t(spark, sf_dir, "embeddings")
    centroids = e.orderBy("vec_id").limit(16)
    grp = assign_clusters(e, centroids).groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_vecs"))
    tot = grp.agg(F.sum("n_vecs").cast("long").alias("n"))
    w = Window.orderBy(F.desc("n_vecs"), F.asc("cluster_id"))
    return grp.crossJoin(F.broadcast(tot)).select(
        "cluster_id", "n_vecs",
        F.round(F.lit(1e4) * F.col("n_vecs") / F.col("n")).cast("long")
         .alias("share_bp"),
        F.row_number().over(w).cast("long").alias("size_rank"),
    )
