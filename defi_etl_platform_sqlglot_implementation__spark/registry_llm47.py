"""Coverage wave 48 (round 11) — the keep-policy family completed:
quality-wins cluster resolution, and the three-policy decision matrix.

- ``dedup_keep_best_quality``: the THIRD production keep policy.
  ``dedup_keep_canonical`` keeps the LONGEST doc per near-dup cluster
  (content-max), ``dedup_keep_newest`` keeps the freshest; quality-
  aware pipelines keep the doc a quality score ranks highest (the
  CCNet/Gopher-era convention: when near-dups differ in boilerplate or
  truncation, keep the cleanest copy).  The score here is the exact
  integer lexical-diversity ratio ``quality_bp = (n_distinct ·
  10^4) div n_words`` over the non-empty whitespace split — row-local
  on BOTH engines (list_distinct / array_distinct — no explode), the
  doc_repetition_profile signal as a single integer, with min-doc_id
  tie-break.  Same CC chain as the other two policies (LSH-verified
  Jaccard >= 0.5 pairs → min-label components), so all three partition
  the SAME clusters; ``policy_differs`` marks clusters where quality-
  wins and longest-wins pick different survivors.

- ``keep_policy_matrix``: the decision table a curation owner reads
  before choosing the knob — all three policies compared pairwise on
  the SAME clusters: per unordered policy pair, multi-doc clusters,
  clusters where the survivors differ, and the surviving token volume
  under each policy (over multi-doc clusters only — singletons keep
  the same doc under every policy and would drown the signal).
  Pinned: the (longest, quality) row's differ count equals
  dedup_keep_best_quality's Σ policy_differs clusters, and the
  (longest, newest) row equals dedup_keep_newest's — the matrix and
  the per-policy gates can never disagree.

Scale shapes: both gates add cluster-partitioned rank windows over the
CC labels (cluster cardinality bounds the partition — the keep_newest
shape); the quality score is row-local integer arithmetic; the matrix
is three windows + one 3-row fold.  Nothing new shuffles: the pair
generation and CC are the dedup family's one banded shuffle.

Reference scope: composes the reference's aggregation surface
(src/transform/etl_pipeline.py groupbys) with the LLM-pipeline
extension; no counterpart file exists — cited per SURVEY §6 as a scale
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, t
from .registry_llm import _CC_REACH_CTE, _SHINGLES_CTE
from .sources.bronze import local_frame

# lab CTE shared by both gates: every doc with its cluster label and
# the three policy-ranking signals, all exact integers
_KEEP_LAB_CTES = f"""cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src),
    lt AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS l,
               length(text) AS n_chars
        FROM documents
    ),
    lab AS (
        SELECT t.doc_id,
               COALESCE(cc.cluster_id, t.doc_id) AS cluster_id,
               t.n_chars,
               CAST(len(t.l) AS BIGINT) AS n_words,
               CAST((len(list_distinct(t.l)) * 10000)
                    // greatest(len(t.l), 1) AS BIGINT) AS quality_bp
        FROM lt t LEFT JOIN cc ON cc.doc_id = t.doc_id
    ),
    rk AS (
        SELECT doc_id, cluster_id, n_chars, n_words, quality_bp,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn_long,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY doc_id DESC) AS rn_new,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_bp DESC, doc_id)
                   AS rn_qual
        FROM lab
    )"""

_KEEP_QUALITY_SQL = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CC_REACH_CTE},
    {_KEEP_LAB_CTES}
    SELECT doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           quality_bp,
           CAST(CASE WHEN rn_qual = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep,
           CAST(MAX(CASE WHEN rn_qual = 1 AND rn_long <> 1
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY cluster_id) AS BIGINT)
               AS policy_differs
    FROM rk
"""


def _keep_rank_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the rk CTE: every doc with cluster label and
    the three policy rankings (byte-shares the pair/CC chain with
    dedup_keep_canonical / dedup_keep_newest)."""
    from .operators.dedup import connected_components, minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).select("d1", "d2")
    cc = connected_components(pairs).withColumnRenamed("node", "doc_id")
    toks = "filter(split(text, ' '), x -> x <> '')"
    lab = (
        docs.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.expr(f"cast(size({toks}) as bigint)").alias("n_words"),
            F.expr(
                f"(cast(size(array_distinct({toks})) as bigint) * 10000)"
                f" div greatest(cast(size({toks}) as bigint), 1L)")
            .cast("long").alias("quality_bp"))
        .join(cc, "doc_id", "left")
        .withColumn("cluster_id",
                    F.coalesce("cluster_id", F.col("doc_id")))
    )
    return lab.select(
        "doc_id", "cluster_id", "n_chars", "n_words", "quality_bp",
        F.row_number().over(
            Window.partitionBy("cluster_id")
            .orderBy(F.desc("n_chars"), F.asc("doc_id"))).alias("rn_long"),
        F.row_number().over(
            Window.partitionBy("cluster_id")
            .orderBy(F.desc("doc_id"))).alias("rn_new"),
        F.row_number().over(
            Window.partitionBy("cluster_id")
            .orderBy(F.desc("quality_bp"), F.asc("doc_id")))
        .alias("rn_qual"))


@register("dedup_keep_best_quality", _KEEP_QUALITY_SQL)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-wins cluster resolution — see module docstring.  The
    score divides with integer ``div`` on Spark and ``//`` on DuckDB —
    exact by construction, no float quotient anywhere."""
    rk = _keep_rank_frame(spark, sf_dir)
    differs = F.max(
        F.when((F.col("rn_qual") == 1) & (F.col("rn_long") != 1), 1)
        .otherwise(0)).over(Window.partitionBy("cluster_id"))
    return rk.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "quality_bp",
        F.when(F.col("rn_qual") == 1, 1).otherwise(0).cast("long")
        .alias("keep"),
        differs.cast("long").alias("policy_differs"))


_POLICY_PAIRS = (("longest", "newest"), ("longest", "quality"),
                 ("newest", "quality"))
_RN = {"longest": "rn_long", "newest": "rn_new", "quality": "rn_qual"}


def _matrix_sql() -> str:
    rows = []
    for a, b in _POLICY_PAIRS:
        ra, rb = _RN[a], _RN[b]
        rows.append(f"""SELECT '{a}' AS policy_a, '{b}' AS policy_b,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_multi_clusters,
           CAST(COUNT(DISTINCT CASE WHEN differs = 1 THEN cluster_id END)
                AS BIGINT) AS n_differ,
           CAST(SUM(CASE WHEN {ra} = 1 THEN n_words ELSE 0 END) AS BIGINT)
               AS tokens_kept_a,
           CAST(SUM(CASE WHEN {rb} = 1 THEN n_words ELSE 0 END) AS BIGINT)
               AS tokens_kept_b
    FROM (SELECT rk.*,
                 MAX(CASE WHEN {ra} = 1 AND {rb} <> 1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY cluster_id) AS differs,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS csz
          FROM rk) WHERE csz > 1""")
    return (f"\n    WITH RECURSIVE {_SHINGLES_CTE},\n    {_CC_REACH_CTE},\n    "
            + _KEEP_LAB_CTES + "\n    "
            + "\n    UNION ALL\n    ".join(rows))


@register("keep_policy_matrix", _matrix_sql())
def keep_policy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three-policy decision table — see module docstring.  ONE
    rank frame (persisted) feeds all three pairwise comparisons; token
    sums run over multi-doc clusters only."""
    from .operators.materialize import scoped_persist

    rk = _keep_rank_frame(spark, sf_dir)
    wc = Window.partitionBy("cluster_id")
    # ONE window pass computes every pair's "differs" flag plus the
    # cluster size (all four ride the same partitioning — one Exchange,
    # one Window node), and ONE aggregate folds all seven metrics the
    # three output rows share (n_multi and the per-policy token sums are
    # pair-independent; only n_differ varies).  The r11 build shape
    # re-shuffled and re-aggregated the persisted rank frame once per
    # pair — 3 Exchanges + 3 aggs for 1 row each (guide §2.4).
    # Cluster counts count each cluster's one rn_long = 1 row (its flags
    # are constant over the cluster): COUNT(DISTINCT cluster_id) would
    # add an Expand and a second exchange keyed on cluster_id.
    flags = {
        (a, b): F.max(
            F.when((F.col(_RN[a]) == 1) & (F.col(_RN[b]) != 1), 1)
            .otherwise(0)).over(wc).alias(f"diff_{a[0]}{b[0]}")
        for a, b in _POLICY_PAIRS
    }
    ann = rk.select(
        "cluster_id", "n_words", *_RN.values(), *flags.values(),
        F.count("*").over(wc).alias("csz")).filter(F.col("csz") > 1)
    head = F.col("rn_long") == 1
    folded = ann.agg(
        F.count(F.when(head, 1)).alias("n_multi"),
        *[F.count(F.when(head & (F.col(f"diff_{a[0]}{b[0]}") == 1), 1))
          .alias(f"nd_{a[0]}{b[0]}") for a, b in _POLICY_PAIRS],
        *[F.sum(F.when(F.col(rn) == 1, F.col("n_words")).otherwise(0))
          .cast("long").alias(f"tok_{p}") for p, rn in _RN.items()])
    pair_rows = local_frame(
        spark, _POLICY_PAIRS, "policy_a string, policy_b string")
    pick = lambda col_of: F.coalesce(*[  # noqa: E731 — 3-way column pick
        F.when((F.col("policy_a") == a) & (F.col("policy_b") == b),
               F.col(col_of(a, b))) for a, b in _POLICY_PAIRS])
    return (pair_rows.crossJoin(F.broadcast(folded)).select(
        "policy_a", "policy_b",
        F.col("n_multi").alias("n_multi_clusters"),
        pick(lambda a, b: f"nd_{a[0]}{b[0]}").alias("n_differ"),
        pick(lambda a, b: f"tok_{a}").alias("tokens_kept_a"),
        pick(lambda a, b: f"tok_{b}").alias("tokens_kept_b")))
