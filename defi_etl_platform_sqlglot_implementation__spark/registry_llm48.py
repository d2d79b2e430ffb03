"""Coverage wave 49 (round 11) — two production dials priced with their
containment theorems pinned in-row:

- ``pq_rerank_recall_curve``: the PQ rerank-depth dial.  Production PQ
  search is two-phase: the ADC pass orders the whole corpus by
  quantized distance, then the top ``depth`` candidates are re-scored
  EXACTLY and the best k of those are returned.  For depth in
  {10, 20, 40} this gate reports candidates explored, true top-10
  members among the candidates (``hits_candidates``), true top-10
  members among the exact-reranked top-10 (``hits_reranked``), and
  recall in basis points.  Two theorems ride in the row set:
  (1) *rerank losslessness* — a true top-10 member that reaches the
  candidate set always survives exact rerank (only higher-scoring true
  members can outrank it), so ``hits_reranked == hits_candidates`` on
  every row, enforced by both engines computing BOTH sides
  independently; (2) *depth monotonicity* — candidate sets are nested
  prefixes of ONE ADC ranking, so recall is non-decreasing in depth.
  The depth=10 slice IS ``similarity_ann_pq``'s top-10 intersected
  with ``similarity_topk``'s truth (same ADC chain, same tie-breaks) —
  pinned in tests/test_llm48.py.

- ``contamination_ngram_curve``: the decontamination n-gram-size dial.
  ``contamination_overlap`` fixes n=4 (word 4-grams vs the benchmark
  slice doc_id % 97 == 0); this gate sweeps n in {3, 4, 6} and reports
  flagged corpus docs, flag rate (bp), and distinct matched shingles
  per n.  Containment theorem: every (n+1)-gram contains an n-gram, so
  a doc flagged at a larger n is flagged at every smaller n — flagged
  counts are non-increasing in n (the ragged short-doc convention
  preserves this: a doc shorter than n contributes its full text at
  every n >= its length, and a full-text match at one n is the same
  match at the others).  The n=4 row equals contamination_overlap's
  contaminated-doc count — pinned in tests/test_llm48.py.

Scale shapes: the PQ curve re-uses ann_pq's narrow-scan ADC pass ONCE
at the deepest depth (k=40) — the three depths are prefix slices of
one persisted ranking, never three corpus passes; exact rerank scores
only |queries| x 40 candidate rows via equi-joins to the corpus.  The
contamination curve pays one tokenize pass (persisted) and one
broadcast bench probe per n; the benchmark side stays broadcast-sized
at every n, so the 100 TB posture is identical to
contamination_overlap's (map-side probe, no corpus shuffle).

Reference scope: composes the reference's aggregation surface with the
LLM-pipeline extension; no counterpart file exists — cited per
SURVEY §6 as a scale extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import ORACLES, register, t
from .registry_llm import _dot_chain, _pq_oracle_sql
from .sources.bronze import local_frame

_RERANK_DEPTHS = (10, 20, 40)
_RERANK_K = 10  # final list size AND truth size (top-10 vs top-10)


def _rerank_curve_sql() -> str:
    """DuckDB twin: ONE nested PQ ranking at the deepest depth (the
    registered similarity_ann_pq oracle, k=40), prefix-sliced per
    depth; truth = the registered similarity_topk oracle nested
    verbatim, so the three gates share chains by construction."""
    pq = _pq_oracle_sql(m=8, n_codes=16, k=max(_RERANK_DEPTHS))
    truth = ORACLES["similarity_topk"]
    cos = (f"({_dot_chain('qv', 'ev')}) / (sqrt({_dot_chain('qv', 'qv')})"
           f" * sqrt({_dot_chain('ev', 'ev')}))")
    depth_rows = ", ".join(f"({d})" for d in _RERANK_DEPTHS)
    return f"""
    WITH pq AS (SELECT query_id, neighbor_id, rank FROM ({pq})),
    truth AS (SELECT query_id, neighbor_id FROM ({truth})),
    depths AS (SELECT * FROM (VALUES {depth_rows}) AS v(depth)),
    cand AS (
        SELECT d.depth, p.query_id, p.neighbor_id
        FROM depths d JOIN pq p ON p.rank <= d.depth
    ),
    rr AS (
        SELECT c.depth, c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY c.depth, c.query_id
                   ORDER BY {cos} DESC, c.neighbor_id) AS rrank
        FROM cand c
        JOIN embeddings qv ON qv.vec_id = c.query_id
        JOIN embeddings ev ON ev.vec_id = c.neighbor_id
    ),
    nc AS (SELECT depth, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
    hc AS (SELECT c.depth, COUNT(*) AS hits
           FROM cand c JOIN truth USING (query_id, neighbor_id)
           GROUP BY 1),
    hr AS (SELECT r.depth, COUNT(*) AS hits
           FROM rr r JOIN truth USING (query_id, neighbor_id)
           WHERE r.rrank <= {_RERANK_K}
           GROUP BY 1),
    tt AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT CAST(d.depth AS BIGINT) AS rerank_depth,
           CAST(nc.n_candidates AS BIGINT) AS n_candidates,
           CAST(COALESCE(hc.hits, 0) AS BIGINT) AS hits_candidates,
           CAST(COALESCE(hr.hits, 0) AS BIGINT) AS hits_reranked,
           CAST((COALESCE(hr.hits, 0) * 10000) // tt.n_truth AS BIGINT)
               AS recall_bp
    FROM depths d
    JOIN nc USING (depth)
    LEFT JOIN hc USING (depth)
    LEFT JOIN hr USING (depth), tt
    """


@register("pq_rerank_recall_curve", _rerank_curve_sql())
def pq_rerank_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rerank-depth dial — see module docstring.  ONE ADC ranking
    (ann_pq at the deepest depth, persisted) prefix-sliced three ways;
    exact cosines touch candidate rows only, via equi-joins."""
    from .operators.materialize import scoped_persist
    from .operators.similarity import ann_pq, cosine_topk, dot

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    pq = scoped_persist(
        ann_pq(e, q, k=max(_RERANK_DEPTHS), m=8, n_codes=16)
        .select("query_id", "neighbor_id", "rank"))
    truth = scoped_persist(
        cosine_topk(e, q, k=_RERANK_K).select("query_id", "neighbor_id"))

    depths = local_frame(
        spark, [(d,) for d in _RERANK_DEPTHS], "depth int")
    cand = scoped_persist(
        pq.join(F.broadcast(depths), F.col("rank") <= F.col("depth"))
        .select("depth", "query_id", "neighbor_id"))

    qv = e.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qv"))
    ev = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("ev"))
    cos = (dot("qv", "ev")
           / (F.sqrt(dot("qv", "qv")) * F.sqrt(dot("ev", "ev"))))
    rr = (cand.join(F.broadcast(qv), "query_id")
          .join(F.broadcast(ev), "neighbor_id")
          .select("depth", "query_id", "neighbor_id", cos.alias("cosine"))
          .withColumn("rrank", F.row_number().over(
              Window.partitionBy("depth", "query_id")
              .orderBy(F.desc("cosine"), F.asc("neighbor_id")))))

    nc = cand.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_candidates"))
    hc = (cand.join(truth, ["query_id", "neighbor_id"])
          .groupBy("depth")
          .agg(F.count("*").cast("long").alias("hits_candidates")))
    hr = (rr.filter(F.col("rrank") <= _RERANK_K)
          .join(truth, ["query_id", "neighbor_id"])
          .groupBy("depth")
          .agg(F.count("*").cast("long").alias("hits_reranked")))
    n_truth = truth.agg(F.count("*").alias("n_truth"))

    return (depths.join(nc, "depth")
            .join(hc, "depth", "left")
            .join(hr, "depth", "left")
            .crossJoin(F.broadcast(n_truth))
            .select(
                F.col("depth").cast("long").alias("rerank_depth"),
                "n_candidates",
                F.coalesce("hits_candidates", F.lit(0)).cast("long")
                .alias("hits_candidates"),
                F.coalesce("hits_reranked", F.lit(0)).cast("long")
                .alias("hits_reranked"),
                F.expr("(coalesce(hits_reranked, 0L) * 10000)"
                       " div n_truth").cast("long").alias("recall_bp")))


_CONTAM_NS = (3, 4, 6)


def _contam_curve_sql() -> str:
    """DuckDB twin: one tokenize CTE, one unrolled shingle/probe chain
    per n (the registry_llm2 shingle convention with n parameterized:
    ragged short docs contribute their full text)."""
    parts = []
    for n in _CONTAM_NS:
        parts.append(f"""SELECT {n} AS ngram_n,
           (SELECT COUNT(*) FROM documents WHERE doc_id % 97 <> 0)
               AS corpus_docs,
           CAST(COUNT(DISTINCT m.doc_id) AS BIGINT) AS flagged_docs,
           CAST((COUNT(DISTINCT m.doc_id) * 10000)
                // (SELECT COUNT(*) FROM documents WHERE doc_id % 97 <> 0)
                AS BIGINT) AS flag_rate_bp,
           CAST(COUNT(DISTINCT m.s) AS BIGINT) AS matched_shingles
    FROM (
        SELECT c.doc_id, c.s
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, greatest(1, len(l) - {n - 1}) + 1),
                         i -> array_to_string(l[i:i+{n - 1}], ' ')))) AS s
              FROM toks WHERE doc_id % 97 <> 0) c
        JOIN (SELECT DISTINCT
                     unnest(list_distinct(list_transform(
                         range(1, greatest(1, len(l) - {n - 1}) + 1),
                         i -> array_to_string(l[i:i+{n - 1}], ' ')))) AS s
              FROM toks WHERE doc_id % 97 = 0) b USING (s)
    ) m""")
    body = "\n    UNION ALL\n    ".join(parts)
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    )
    {body}
    """


@register("contamination_ngram_curve", _contam_curve_sql())
def contamination_ngram_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination n dial — see module docstring.  One
    tokenize pass (persisted); per n, the benchmark shingle set stays
    broadcast and the corpus side never shuffles for the probe (the
    contamination_overlap posture at every n)."""
    from .operators.materialize import scoped_persist

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = scoped_persist(
        docs.select("doc_id", F.split("text", " ").alias("l")))
    cd = toks.filter(F.col("doc_id") % 97 != 0).agg(
        F.count("*").cast("long").alias("corpus_docs"))

    parts = []
    for n in _CONTAM_NS:
        sh = toks.select(
            "doc_id",
            F.explode(F.expr(
                "array_distinct(transform("
                f" sequence(1, greatest(1, size(l) - {n - 1})),"
                f" i -> concat_ws(' ', slice(l, i, {n}))))")).alias("s"))
        bench = F.broadcast(
            sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct())
        matched = sh.filter(F.col("doc_id") % 97 != 0).join(bench, "s")
        parts.append(
            matched.agg(
                F.lit(n).cast("long").alias("ngram_n"),
                F.countDistinct("doc_id").cast("long")
                .alias("flagged_docs"),
                F.countDistinct("s").cast("long")
                .alias("matched_shingles"))
            .crossJoin(F.broadcast(cd))
            .select(
                "ngram_n", "corpus_docs", "flagged_docs",
                F.expr("(flagged_docs * 10000) div corpus_docs")
                .cast("long").alias("flag_rate_bp"),
                "matched_shingles"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
