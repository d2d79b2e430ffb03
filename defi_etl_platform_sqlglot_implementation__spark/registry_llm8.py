"""Coverage wave 8 — curation diagnostics (round 5, tail session).

Four gates that roll earlier per-document operators up into the tables
a curation team actually reads:

- cross-source duplication matrix (which sources copy from each other),
- perplexity-bucketed mixture report (bigram-LM deciles via histogram
  thresholds — no global row sort),
- tie-corrected Spearman rank correlation via histogram average ranks
  (no global sort either; exact integer moments, one double finish),
- BPE fertility by language (subwords per word — the multilingual
  tokenizer-quality table), sharing the trained-encode CTE prefix with
  bpe_encode_segments.

All four land INSIDE the r5 driver window (43 unproven entries lead the
50 slots after the window's new-bucket placement); locally oracle-exact
at sf0.001/sf0.01/sf1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import fmt, register, t
from .registry_llm import _SHINGLES_CTE

# =========================================================================
# cross-source duplication matrix
# =========================================================================

@register(
    "cross_source_dup_matrix",
    f"""
    WITH {_SHINGLES_CTE},
    p AS (
        SELECT d1, d2
        FROM ipair
        JOIN sz sa ON sa.doc_id = d1
        JOIN sz sb ON sb.doc_id = d2
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 5e-1
    ),
    sp AS (SELECT doc_id, source FROM documents)
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p
    JOIN sp s1 ON s1.doc_id = p.d1
    JOIN sp s2 ON s2.doc_id = p.d2
    GROUP BY 1, 2
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: true near-dup pairs (exact
    3-gram Jaccard >= 0.5) counted per unordered source pair — the
    matrix that tells a curation team whether crawl A is mirroring
    crawl B before they weight sources independently. Two equi-joins on
    doc_id attach sources to the standard pair core (same guard
    contract as every Jaccard gate; the scale path feeds LSH
    candidates), then one hash aggregate on the normalized
    (least, greatest) source pair."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, oracle=True)
    sp = docs.select("doc_id", "source")
    s1 = sp.select(F.col("doc_id").alias("sp_d1"), F.col("source").alias("src1"))
    s2 = sp.select(F.col("doc_id").alias("sp_d2"), F.col("source").alias("src2"))
    return (
        pairs.join(s1, F.col("d1") == F.col("sp_d1"))
        .join(s2, F.col("d2") == F.col("sp_d2"))
        .groupBy(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# =========================================================================
# perplexity-bucketed mixture report — histogram deciles, no global sort
# =========================================================================

def _ppl_bucket_sql() -> str:
    from .registry_llm4 import _BIGRAM_SQL

    return f"""
    WITH b AS (SELECT * FROM ({_BIGRAM_SQL})),
    s AS (
        SELECT doc_id, n_bigrams, logprob_micro,
               CAST(round(CAST(logprob_micro AS DOUBLE) / n_bigrams / 1000)
                    AS BIGINT) AS mean_milli
        FROM b
    ),
    vc AS (SELECT mean_milli AS v, COUNT(*) AS c FROM s GROUP BY 1),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM vc
    ),
    th AS (
        SELECT q.q, MIN(CASE WHEN cum >= (q.q * n + 9) // 10 THEN v END) AS t
        FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS q) q
        GROUP BY 1
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(SUM(logprob_micro) AS BIGINT) AS total_logprob_micro
    FROM (
        SELECT s.doc_id, s.n_bigrams, s.logprob_micro,
               CAST(1 + SUM(CASE WHEN s.mean_milli > th.t THEN 1 ELSE 0 END)
                    AS INT) AS band
        FROM s CROSS JOIN th
        GROUP BY 1, 2, 3
    ) GROUP BY 1
    """


@register("perplexity_bucket_mix", _ppl_bucket_sql())
def perplexity_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-binned data mixture: documents bucketed into DECILES of
    mean bigram log-probability (milli-nat quantized), reporting doc
    and bigram mass per band — the table behind 'train on the top-K
    quality deciles, downsample the rest'. Decile thresholds come from
    a VALUE-COUNT histogram of the quantized score (the
    doc_length_percentile_clip device), so the only window runs over a
    few thousand distinct values — never a global row sort; band
    assignment is a 9-row broadcast join + integer comparisons.
    Composes doc_bigram_logprob unchanged; docs with <2 tokens have no
    bigram score and are out of scope by that gate's contract."""
    from .registry_llm4 import doc_bigram_logprob

    b = doc_bigram_logprob(spark, sf_dir)
    s = b.withColumn(
        "mean_milli",
        F.round(F.col("logprob_micro").cast("double")
                / F.col("n_bigrams") / 1000).cast("long"))
    vc = s.groupBy(F.col("mean_milli").alias("v")).agg(F.count("*").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    cum = (vc.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(
               Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    th = (cum.crossJoin(F.broadcast(qs))
          .groupBy("q")
          .agg(F.min(F.when(
              F.col("cum") >= F.expr("(q * n + 9) div 10"),
              F.col("v"))).alias("t")))
    banded = (s.crossJoin(F.broadcast(th))
              .groupBy("doc_id", "n_bigrams", "logprob_micro")
              .agg((F.lit(1) + F.sum(F.when(
                  F.col("mean_milli") > F.col("t"), 1).otherwise(0)))
                  .cast("int").alias("band")))
    return banded.groupBy("band").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("total_bigrams"),
        F.sum("logprob_micro").cast("long").alias("total_logprob_micro"),
    )


# =========================================================================
# Spearman rank correlation via histogram average ranks — no global sort
# =========================================================================

_SPEARMAN_SQL = """
    WITH tk AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS x,
               len(list_distinct(list_filter(string_split(text, ' '),
                                             t -> t <> ''))) AS y
        FROM documents
    ),
    hx AS (SELECT x AS v, COUNT(*) AS c FROM tk GROUP BY 1),
    rx AS (
        SELECT v, 2 * (SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c)
                  + c + 1 AS r2
        FROM hx
    ),
    hy AS (SELECT y AS v, COUNT(*) AS c FROM tk GROUP BY 1),
    ry AS (
        SELECT v, 2 * (SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c)
                  + c + 1 AS r2
        FROM hy
    ),
    r AS (
        SELECT CAST(rx.r2 AS HUGEINT) AS a, CAST(ry.r2 AS HUGEINT) AS b
        FROM tk JOIN rx ON rx.v = tk.x JOIN ry ON ry.v = tk.y
    ),
    m AS (
        SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
               SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           printf('%.6e',
             CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE))
             / sqrt(CAST(n * sbb - sb * sb AS DOUBLE))
           ) AS spearman_rho
    FROM m
    """


@register("spearman_len_distinct", _SPEARMAN_SQL)
def spearman_len_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between document token
    count and distinct-token count, computed WITHOUT any global sort:
    each variable's average rank comes from its value-count histogram
    (avg rank of value v = #smaller + (count+1)/2; doubled to stay
    integer), attached back by an equi-join on the value — the
    distributed form of ranking, shuffle-free past the histogram.
    Spearman is then Pearson over the integer doubled-ranks: exact
    decimal(38)/HUGEINT moment sums, cancellations in exact arithmetic,
    one double finish emitted %.6e (the value_time_correlation
    pattern). The histograms are domain-bounded (distinct token counts),
    so the only windows run over tiny tables at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    tk = docs.select(
        "doc_id",
        F.size(toks).alias("x"),
        F.size(F.array_distinct(toks)).alias("y"))

    def ranks(col: str):
        h = tk.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
        return h.select(
            "v",
            (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1)
            .alias("r2"))

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — headroom casts
    rx = ranks("x").select(F.col("v").alias("xv"), F.col("r2").alias("a"))
    ry = ranks("y").select(F.col("v").alias("yv"), F.col("r2").alias("b"))
    r = (tk.join(F.broadcast(rx), F.col("x") == F.col("xv"))
         .join(F.broadcast(ry), F.col("y") == F.col("yv"))
         .select(dec(F.col("a")).alias("a"), dec(F.col("b")).alias("b")))
    m = r.agg(F.count("*").alias("n"), F.sum("a").alias("sa"),
              F.sum("b").alias("sb"),
              F.sum(F.col("a") * F.col("b")).alias("sab"),
              F.sum(F.col("a") * F.col("a")).alias("saa"),
              F.sum(F.col("b") * F.col("b")).alias("sbb"))
    num = (dec(F.col("n")) * F.col("sab")
           - F.col("sa") * F.col("sb")).cast("double")
    va = (dec(F.col("n")) * F.col("saa")
          - F.col("sa") * F.col("sa")).cast("double")
    vb = (dec(F.col("n")) * F.col("sbb")
          - F.col("sb") * F.col("sb")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n"),
        (num / F.sqrt(va) / F.sqrt(vb)).alias("spearman_rho"),
    ).withColumn("spearman_rho", fmt("spearman_rho"))


# =========================================================================
# BPE fertility by language — subwords per word, per lang
# =========================================================================

def _fertility_sql() -> str:
    from .registry_llm5 import _bpe_seg_ctes

    return f"""
    {_bpe_seg_ctes(6)},
    dl AS (SELECT doc_id, lang FROM documents)
    SELECT dl.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(seg.s, chr(1)))) AS BIGINT)
               AS n_subwords,
           CAST(round(1e4 * SUM(len(string_split(seg.s, chr(1))))
                      / COUNT(*)) AS BIGINT) AS fertility_bp
    FROM seg JOIN dl USING (doc_id)
    GROUP BY 1
    """


@register("bpe_fertility_by_lang", _fertility_sql())
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subwords per word, basis points) per
    language — the table that shows which languages a BPE vocabulary
    trained on the 80% corpus partition serves worst (high fertility =
    more tokens per word = costlier and worse-modeled). Reuses the
    trained-encode chain of bpe_encode_segments verbatim (one shared
    CTE prefix on the oracle side, the same train/encode operators on
    the Spark side) and adds one equi-join to the doc->lang projection
    plus one hash aggregate — no new scale surface beyond the proven
    encode path."""
    from .operators.bpe import encode_words, train_bpe

    docs = t(spark, sf_dir, "documents")
    merges, _ = train_bpe(
        docs.filter(F.col("doc_id") % 5 != 0), n_merges=6)
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "").distinct())
    enc = encode_words(words, merges).select(
        "word", F.size("seq").alias("n_sub"))
    tok = (docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != ""))
    seg = tok.join(F.broadcast(enc), "word")
    dl = docs.select("doc_id", "lang")
    return (seg.join(dl, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("n_sub").cast("long").alias("n_subwords"),
                 F.round(F.lit(1e4) * F.sum("n_sub") / F.count("*"))
                 .cast("long").alias("fertility_bp")))
