"""LLM-pipeline coverage wave 5 (round 4, session 2).

Five operators that close remaining training-data-pipeline families:

- :func:`gopher_quality_flags` — the multi-rule document quality verdict
  (Gopher/C4-style rule bundle): per-doc metrics + per-rule pass flags +
  the conjunctive keep decision, all integer/single-division exact.
- :func:`dedup_incremental` — new-batch-vs-existing-corpus exact dedup,
  the shape every INCREMENTAL ingestion run executes (dedup against what
  is already in the lake, then within the batch itself).
- :func:`knn_label_accuracy` — kNN classifier evaluation over the
  embedding table: majority vote of the 5 nearest train neighbors
  (cosine), per-label accuracy. The eval half of the similarity family.
- :func:`embedding_mean_pool` — per-group per-dimension mean pooling
  (chunk->document / doc->cluster pooling), micro-quantized so sums are
  order-free integers.
- :func:`minhash_containment` — ASYMMETRIC near-dup: shingle containment
  |A∩B|/|A| (catches quotes/supersets that symmetric Jaccard misses).
- :func:`bpe_encode_segments` — tokenizer APPLICATION: a BPE vocabulary
  trained on the 80% corpus partition encodes every document (held-out
  docs included), per-doc subword counts + an order-exact segmentation
  hash.  EXACT oracle: the training loop unrolls as DuckDB CTE stages
  (operators/bpe.py duckdb_train_ctes) and the encode fold re-applies
  each learned merge to the full word table.

Registered past the driver's 50-slot verification window this round (the
window is full with unproven r4 entries — see NOTES_r4); locally
oracle-exact at sf0.001 and sf0.01 via scripts/check_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, t
from .registry_llm import _CC_REACH_CTE, _SHINGLES_CTE, _dot_chain

# =========================================================================
# Gopher-style quality rule bundle
# =========================================================================

_GOPHER_SQL = """
    WITH toks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
    ),
    tc AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    m AS (
        SELECT doc_id,
               SUM(c) AS n_words,
               SUM(len(tok) * c) AS n_chars,
               COUNT(*) AS n_distinct,
               MAX(c) AS top_tok,
               SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS stop_hits
        FROM tc GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(m.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE((m.n_chars * 100) // m.n_words, 0) AS BIGINT)
               AS mean_wlen_centi,
           COALESCE(CAST(m.n_distinct AS DOUBLE) / m.n_words, 0.0)
               AS distinct_ratio,
           COALESCE(CAST(m.top_tok AS DOUBLE) / m.n_words, 0.0)
               AS top_tok_share,
           CAST(COALESCE(m.stop_hits, 0) AS BIGINT) AS stop_hits,
           CAST(CASE WHEN m.n_words BETWEEN 30 AND 2500 THEN 1 ELSE 0 END AS BIGINT) AS f_len,
           CAST(CASE WHEN (m.n_chars * 100) // m.n_words BETWEEN 300 AND 1000 THEN 1 ELSE 0 END AS BIGINT) AS f_wlen,
           CAST(CASE WHEN m.n_distinct * 5 > n_words THEN 1 ELSE 0 END AS BIGINT) AS f_distinct,
           CAST(CASE WHEN m.top_tok * 100 < m.n_words * 15 THEN 1 ELSE 0 END AS BIGINT) AS f_toptok,
           CAST(CASE WHEN COALESCE(m.stop_hits, 0) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
           CAST(CASE WHEN m.n_words BETWEEN 30 AND 2500
                      AND (m.n_chars * 100) // m.n_words BETWEEN 300 AND 1000
                      AND m.n_distinct * 5 > n_words
                      AND m.top_tok * 100 < m.n_words * 15
                      AND m.stop_hits >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
"""


def _gopher_flags_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-derived flag frame WITHOUT the one-row-per-document
    left join — rows exist only for docs with at least one non-empty
    token.  Internal: consumers that immediately filter keep=1 (the
    curation pipeline) use this so the filter prunes before any join;
    the public gate adds the row-preserving join for profile
    completeness.  Gopher/C4-style quality rule bundle: per-document word count,
    mean word length (integer centi-chars), distinct-token ratio, most-
    common-token share, and stopword hits, each with a pass flag, plus
    the conjunctive keep verdict.  Every rule threshold is evaluated in
    INTEGER arithmetic (``top_tok*100 < n_words*15`` instead of a float
    ratio compare) so the verdict can never flip on a rounding edge —
    the emitted ratio columns are single int/int divisions (bit-exact).
    Shape: one explode + two hash aggregates (both map-side combinable,
    keyed by doc_id) — no corpus-wide state, embarrassingly parallel at
    any scale.  Reference scope: quality filtering extends the text ops
    at etl_pipeline.py:219-236 to the training-data curation setting."""
    toks = (t(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            # empty tokens from doubled/trailing spaces are not words —
            # the same filter every tokenizing operator applies
            # (word_frequencies, token shards); counting them would
            # deflate mean word length and flip near-threshold verdicts
            .filter(F.col("tok") != ""))
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    m = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.length("tok") * F.col("c")).alias("n_chars"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_tok"),
        F.sum(
            F.when(F.col("tok").isin("the", "a"), F.col("c")).otherwise(0)
        ).alias("stop_hits"),
    )
    nw, nc, nd, tt, sh = (F.col(c) for c in
                          ("n_words", "n_chars", "n_distinct", "top_tok",
                           "stop_hits"))
    wlen_centi = F.expr("(n_chars * 100) div n_words")
    f_len = nw.between(30, 2500)
    f_wlen = wlen_centi.between(300, 1000)
    f_distinct = nd * 5 > nw
    f_toptok = tt * 100 < nw * 15
    f_stop = sh >= 2
    return m.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        wlen_centi.cast("long").alias("mean_wlen_centi"),
        (nd.cast("double") / nw).alias("distinct_ratio"),
        (tt.cast("double") / nw).alias("top_tok_share"),
        sh.cast("long").alias("stop_hits"),
        f_len.cast("long").alias("f_len"),
        f_wlen.cast("long").alias("f_wlen"),
        f_distinct.cast("long").alias("f_distinct"),
        f_toptok.cast("long").alias("f_toptok"),
        f_stop.cast("long").alias("f_stop"),
        (f_len & f_wlen & f_distinct & f_toptok & f_stop)
        .cast("long").alias("keep"),
    )


@register("gopher_quality_flags", _GOPHER_SQL)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public gate: the flag core (see _gopher_flags_core) left-joined
    back to documents so EVERY doc has a row — all-empty-token docs get
    zeroed metrics and keep=0 instead of vanishing."""
    return _gopher_join_rows(spark, sf_dir,
                             _gopher_flags_core(spark, sf_dir))


def _gopher_join_rows(spark: SparkSession, sf_dir: str,
                      flags: DataFrame) -> DataFrame:
    # ONE ROW PER DOCUMENT: a doc whose text splits to only empty
    # tokens has no token rows, but dropping it from the profile would
    # make the LOWEST-quality docs invisible to consumers that read
    # absence as "no verdict" — left-join back with zeroed metrics and
    # every flag failed (review fix)
    zero_l = F.lit(0).cast("long")
    return t(spark, sf_dir, "documents").select("doc_id").join(
        flags, "doc_id", "left"
    ).select(
        "doc_id",
        *[F.coalesce(c, zero_l).alias(c)
          for c in ("n_words", "mean_wlen_centi")],
        *[F.coalesce(c, F.lit(0.0)).alias(c)
          for c in ("distinct_ratio", "top_tok_share")],
        *[F.coalesce(c, zero_l).alias(c)
          for c in ("stop_hits", "f_len", "f_wlen", "f_distinct",
                    "f_toptok", "f_stop", "keep")],
    )


# =========================================================================
# Incremental dedup — new batch vs existing corpus
# =========================================================================

_INCREMENTAL_SQL = """
    WITH tagged AS (
        SELECT doc_id, md5(text) AS h, doc_id % 5 = 0 AS is_new
        FROM documents
    ),
    corpus AS (SELECT DISTINCT h FROM tagged WHERE NOT is_new),
    newd AS (
        SELECT t.doc_id, t.h, corpus.h IS NOT NULL AS in_corpus,
               ROW_NUMBER() OVER (PARTITION BY t.h ORDER BY t.doc_id) AS rn
        FROM tagged t LEFT JOIN corpus ON corpus.h = t.h
        WHERE t.is_new
    )
    SELECT doc_id, h,
           CASE WHEN in_corpus THEN 'dup_of_corpus'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM newd
"""


@register("dedup_incremental", _INCREMENTAL_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the arriving batch (docs with
    ``doc_id % 5 = 0`` stand in for today's crawl) is deduplicated first
    against the EXISTING corpus (exact md5 hash membership) and then
    within itself (first doc_id per hash wins).  This is the shape every
    production pipeline actually runs — the full-corpus self-dedup gates
    (dedup_exact et al.) are the bootstrap; this is the steady state.
    Shape: one shuffle on the 32-byte hash for the corpus left join and
    the in-batch window share the same key, so at scale the corpus side
    is a bucketed/Z-ordered hash index probed by the (much smaller)
    batch — never a rescan of the lake per batch."""
    tagged = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("h"),
        (F.col("doc_id") % 5 == 0).alias("is_new"),
    )
    corpus = (tagged.filter(~F.col("is_new"))
              .select("h").distinct()
              .withColumn("in_corpus", F.lit(True)))
    newd = (tagged.filter("is_new")
            .join(corpus, "h", "left")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("h").orderBy("doc_id")),
            ))
    return newd.select(
        "doc_id", "h",
        F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
        .when(F.col("rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
        .alias("status"),
    )


# =========================================================================
# kNN classifier evaluation over embeddings
# =========================================================================

_KNN_SQL = f"""
    WITH scored AS (
        SELECT q.vec_id AS qid, q.label AS qlabel,
               tr.vec_id AS nid, tr.label AS nlabel,
               ({_dot_chain('q', 'tr')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('tr', 'tr')}))
                   AS cosine
        FROM embeddings q, embeddings tr
        WHERE q.vec_id % 10 = 0 AND tr.vec_id % 10 <> 0
    ),
    top AS (
        SELECT qid, qlabel, nlabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rk
        FROM scored
    ),
    votes AS (
        SELECT qid, qlabel, nlabel, COUNT(*) AS v
        FROM top WHERE rk <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT qid, qlabel, nlabel AS plabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY v DESC, nlabel) AS pr
        FROM votes
    )
    SELECT qlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS accuracy
    FROM pred WHERE pr = 1
    GROUP BY qlabel
"""


@register("knn_label_accuracy", _KNN_SQL)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification eval: every 10th vector is held out, its label
    predicted by majority vote of its 5 nearest training neighbors
    (bit-exact fold-order cosine; vote ties break to the smallest
    label), and accuracy reported per true label.  This is the EVAL half
    of the similarity family — embedding quality measured by
    label-neighborhood coherence.  Shape: the held-out set (10%) is
    broadcast against the training scan (the similarity_topk baseline
    pattern), then two window ranks on the small per-query side.  At
    100 TB the brute scan swaps for the IVF index
    (operators/similarity.py ann_ivf) with identical vote/accuracy
    logic — this gate pins the scoring semantics the index must match."""
    from .operators.similarity import cross_cosine_scores

    e = t(spark, sf_dir, "embeddings")
    # r12 (guide §4): the held-out set was the broadcast side of a
    # crossJoin whose Arrow-vectorized dot shipped BOTH 64-dim vectors
    # per (train, query) pair through the Python boundary (~200 MB at
    # sf0.1); cross_cosine_scores ships the training scan once and
    # closes over the query matrix — bit-identical cosines by the fold
    # replay argument pinned in tests/test_similarity.
    q = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("embedding").alias("eq"))
    tr = e.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"),
        F.col("embedding").alias("etr"))
    scored = cross_cosine_scores(tr, q)
    top = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))),
    ).filter(F.col("rk") <= 5)
    votes = top.groupBy("qid", "qlabel", "nlabel").agg(F.count("*").alias("v"))
    pred = votes.withColumn(
        "pr",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nlabel"))),
    ).filter(F.col("pr") == 1)
    correct = F.sum(
        F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count("*").cast("long").alias("n_eval"),
        correct.cast("long").alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


_KNN_CAP = 128  # fixed eval-benchmark size — scale-INDEPENDENT by contract

# The capped-eval ranked-neighbor chain (q -> scored -> top), shared
# verbatim by knn_label_accuracy_capped_eval (majority vote over rk<=5)
# and registry_llm33.retrieval_mrr_capped_eval (first same-label rank
# over rk<=10) — one definition, so the two gates can never disagree on
# a neighbor ranking.
_KNN_CAPPED_TOP_CTES = f"""q AS (
        SELECT vec_id, label, embedding
        FROM embeddings WHERE vec_id % 10 = 0
        ORDER BY vec_id LIMIT {_KNN_CAP}
    ),
    scored AS (
        SELECT q.vec_id AS qid, q.label AS qlabel,
               tr.vec_id AS nid, tr.label AS nlabel,
               ({_dot_chain('q', 'tr')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('tr', 'tr')}))
                   AS cosine
        FROM q, embeddings tr
        WHERE tr.vec_id % 10 <> 0
    ),
    top AS (
        SELECT qid, qlabel, nid, nlabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rk
        FROM scored
    )"""

_KNN_CAPPED_SQL = f"""
    WITH {_KNN_CAPPED_TOP_CTES},
    votes AS (
        SELECT qid, qlabel, nlabel, COUNT(*) AS v
        FROM top WHERE rk <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT qid, qlabel, nlabel AS plabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY v DESC, nlabel) AS pr
        FROM votes
    )
    SELECT qlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS accuracy
    FROM pred WHERE pr = 1
    GROUP BY qlabel
"""


def _knn_capped_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, qlabel, nid, nlabel, rk): every training neighbor of every
    capped-eval query, ranked by (fold-order cosine DESC, nid) — the
    Spark twin of ``_KNN_CAPPED_TOP_CTES``, shared by the capped kNN
    vote gate and registry_llm33's MRR gate."""
    from .operators.similarity import cross_cosine_scores

    e = t(spark, sf_dir, "embeddings")
    # r12: kernel-closure scoring — see knn_label_accuracy's note; the
    # capped query set is the same TakeOrdered frame, collected instead
    # of broadcast
    q = (e.filter(F.col("vec_id") % 10 == 0)
         .orderBy("vec_id").limit(_KNN_CAP)
         .select(
             F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
             F.col("embedding").alias("eq")))
    tr = e.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"),
        F.col("embedding").alias("etr"))
    scored = cross_cosine_scores(tr, q)
    return scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                              F.asc("nid"))),
    ).select("qid", "qlabel", "nid", "nlabel", "rk")


@register("knn_label_accuracy_capped_eval", _KNN_CAPPED_SQL)
def knn_label_accuracy_capped_eval(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """The PRODUCTION form of kNN eval (VERDICT r8 #4): the eval set is
    a FIXED-size benchmark — the {_KNN_CAP} lowest-vec_id held-out
    vectors — so total cost is O(cap x train) = LINEAR in corpus size,
    unlike :func:`knn_label_accuracy` whose corpus-proportional eval
    split makes eval x train quadratic in sf (kept registered as the
    pricing twin; SCALE.md attributes its sf1 53x to exactly this).
    Scoring semantics are byte-identical to the uncapped gate (same
    fold-order cosine, same rank tie-breaks, same majority vote), so
    the capped per-query predictions are a strict subset — pinned in
    tests/test_llm5.py.  Shape: the cap is a distributed top-K
    (TakeOrderedAndProject — no global sort), the {_KNN_CAP}-row eval
    frame is broadcast against the training scan, and the two ranking
    windows run on the per-query side (cap x 5 rows)."""
    top = _knn_capped_ranked(spark, sf_dir).filter(F.col("rk") <= 5)
    votes = top.groupBy("qid", "qlabel", "nlabel").agg(F.count("*").alias("v"))
    pred = votes.withColumn(
        "pr",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nlabel"))),
    ).filter(F.col("pr") == 1)
    correct = F.sum(
        F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count("*").cast("long").alias("n_eval"),
        correct.cast("long").alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


# =========================================================================
# Per-group per-dimension embedding mean pooling
# =========================================================================

_MEAN_POOL_SQL = """
    SELECT label, CAST(idx - 1 AS BIGINT) AS dim,
           CAST(SUM(CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT))
                AS BIGINT) AS sum_micro,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT))
                AS DOUBLE) / COUNT(*) AS mean_micro
    FROM (SELECT label, unnest(embedding) AS val,
                 generate_subscripts(embedding, 1) AS idx
          FROM embeddings)
    GROUP BY 1, 2
"""


@register("embedding_mean_pool", _MEAN_POOL_SQL)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool embeddings per group per dimension — the chunk->document
    (or doc->cluster-centroid) pooling step of any two-stage embedding
    pipeline, phrased over the label column as the group key.  Element
    values are micro-quantized (round(x*1e6) as BIGINT, the tfidf
    device) so per-(group, dim) sums are order-free exact integers at
    any parallelism; the emitted mean is ONE int/int double division
    (bit-exact cross-engine).  Shape: posexplode + one hash aggregate on
    (label, dim) — map-side combinable, output cardinality = groups×dim,
    independent of corpus size."""
    e = t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "val"))
    micro = F.round(F.col("val").cast("double") * 1e6).cast("long")
    return exploded.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        F.sum(micro).cast("long").alias("sum_micro"),
        F.count("*").cast("long").alias("n"),
        (F.sum(micro).cast("double") / F.count("*")).alias("mean_micro"),
    )


# =========================================================================
# Asymmetric containment near-dup
# =========================================================================

_CONTAINMENT_SQL = f"""
    WITH {_SHINGLES_CTE},
    j AS (
        SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2
        FROM ipair
        JOIN sz sa ON sa.doc_id = d1
        JOIN sz sb ON sb.doc_id = d2
    )
    SELECT d1 AS contained, d2 AS container,
           CAST(inter AS BIGINT) AS inter,
           CAST(n1 AS BIGINT) AS n_contained,
           CAST(inter AS DOUBLE) / n1 AS containment
    FROM j WHERE CAST(inter AS DOUBLE) / n1 >= 8e-1
    UNION ALL
    SELECT d2, d1, CAST(inter AS BIGINT), CAST(n2 AS BIGINT),
           CAST(inter AS DOUBLE) / n2
    FROM j WHERE CAST(inter AS DOUBLE) / n2 >= 8e-1
"""


@register("minhash_containment", _CONTAINMENT_SQL)
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: C(A in B) = |A∩B| / |A| over
    distinct 3-token shingles, emitting (contained, container) pairs at
    C >= 0.8 in EITHER direction.  Containment catches what symmetric
    Jaccard structurally cannot — a short document quoted inside a much
    longer one has high containment but low Jaccard (the union is
    dominated by the container).  Shape: the co-shingled intersection
    self-join (shared with the Jaccard gates); at scale the candidate
    set comes from LSH (``_pair_jaccard(sh, pairs=lsh_candidates)`` —
    operators/dedup.py:145 semi-join-reduces the shingle table to
    candidates BEFORE intersecting), so the brute self-join here is the
    DECLARED oracle shape (``oracle=True`` opts out of the
    ``_resolve_df_cap`` auto-cap, the same contract as the Jaccard
    gates — a non-oracle caller above 20k docs gets capped
    automatically; review fix — the gate previously reached past the
    guard via the private ``_pair_jaccard``)."""
    from .operators.dedup import containment_pairs

    return containment_pairs(t(spark, sf_dir, "documents"),
                             threshold=0.8, oracle=True)


# =========================================================================
# BPE tokenizer application — encode the corpus with a trained vocabulary
# =========================================================================

def _bpe_seg_ctes(n_merges: int = 6) -> str:
    """Train-on-80% + encode-every-document CTE prefix ending at ``seg``
    (doc_id, pos, s) — ONE definition shared by the per-doc segmentation
    gate below and the fertility-by-language rollup (registry_llm8)."""
    from .operators.bpe import duckdb_train_ctes

    enc = []
    for k in range(1, n_merges + 1):
        enc.append(f"""
    e{k} AS MATERIALIZED (
        SELECT word,
               CASE WHEN m.a IS NULL THEN s ELSE
               list_reduce(string_split(s, chr(1)), (acc, x) ->
                   CASE WHEN x = m.b
                             AND (acc = m.a
                                  OR ends_with(acc, chr(1) || m.a))
                        THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
                        ELSE acc || chr(1) || x END) END AS s
        FROM e{k - 1} LEFT JOIN m{k} m ON TRUE
    )""")
    return f"""
    WITH {duckdb_train_ctes(n_merges, corpus_pred="doc_id % 5 <> 0")},
    aw AS (
        SELECT DISTINCT word
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    ),
    e0 AS MATERIALIZED (
        SELECT word,
               array_to_string(
                   list_concat(string_split(word, ''), ['</w>']), chr(1)) AS s
        FROM aw
    ),{",".join(enc)},
    tokpos AS (
        SELECT doc_id, i AS pos, toks[i] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
              FROM documents)
        WHERE toks[i] <> ''
    ),
    seg AS (SELECT doc_id, pos, e.s FROM tokpos JOIN e{n_merges} e USING (word))
    """


def _bpe_encode_sql(n_merges: int = 6) -> str:
    return f"""
    {_bpe_seg_ctes(n_merges)}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(s, chr(1)))) AS BIGINT) AS n_subwords,
           md5(string_agg(s, chr(2) ORDER BY pos)) AS seg_hash
    FROM seg GROUP BY 1
    """


@register("bpe_encode_segments", _bpe_encode_sql())
def bpe_encode_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: a BPE vocabulary trained on
    the 80% corpus partition (doc_id % 5 != 0, 6 merges) encodes EVERY
    document — including the held-out 20%, where unseen words segment
    deterministically through the same greedy fold.  Output per doc:
    word count, subword count, and an md5 over the position-ordered full
    segmentation (subwords chr(1)-joined, words chr(2)-joined) — a
    single hash that pins every symbol boundary of every document.

    Scale shape: training touches only the Zipf-bounded word-frequency
    table (operators/bpe.py); encoding is a DISTINCT-word table pushed
    through the row-local merge fold chain and broadcast-joined back to
    the positional token explode — the corpus is read once, no Python,
    and the only wide state is the word table.  The oracle unrolls
    training AND encoding as DuckDB CTE stages over the same data."""
    from .operators.bpe import encode_words, train_bpe

    docs = t(spark, sf_dir, "documents")
    merges, _ = train_bpe(
        docs.filter(F.col("doc_id") % 5 != 0), n_merges=6)
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "").distinct())
    enc = encode_words(words, merges).select(
        "word", F.array_join("seq", "\x01").alias("s"))
    tok = (docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .filter(F.col("word") != ""))
    seg = tok.join(F.broadcast(enc), "word")
    ordered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda x: x["s"],
        ),
        "\x02",
    )
    return seg.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.size(F.split("s", "\x01"))).cast("long").alias("n_subwords"),
        F.md5(ordered).alias("seg_hash"),
    )


# =========================================================================
# Curation pipeline v2 — the wave-5 ops COMPOSED end-to-end
# =========================================================================

def _shingles_cte_over(src: str) -> str:
    """The _SHINGLES_CTE machinery parameterized over its source relation
    (the original is pinned to ``documents``; composition needs it over
    the quality-filtered subset)."""
    return f"""
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(1, len(string_split(text, ' ')) - 2) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS s
        FROM {src}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    ipair AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


_PIPELINE_V2_SQL = f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
    ),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    m AS (
        SELECT doc_id, SUM(c) AS n_words, SUM(len(tok) * c) AS n_chars,
               COUNT(*) AS n_distinct, MAX(c) AS top_tok,
               SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS stop_hits
        FROM tc GROUP BY 1
    ),
    quality AS (
        SELECT doc_id, n_words FROM m
        WHERE n_words BETWEEN 30 AND 2500
          AND (n_chars * 100) // n_words BETWEEN 300 AND 1000
          AND n_distinct * 5 > n_words
          AND top_tok * 100 < n_words * 15
          AND stop_hits >= 2
    ),
    qdocs AS (
        SELECT d.doc_id, d.text, d.source FROM documents d
        JOIN quality USING (doc_id)
    ),
    {_shingles_cte_over('qdocs')},
    {_CC_REACH_CTE},
    cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src),
    lab AS (
        SELECT q.doc_id, q.source,
               COALESCE(cc.cluster_id, q.doc_id) AS cluster_id,
               length(q.text) AS n_chars, quality.n_words
        FROM qdocs q
        LEFT JOIN cc USING (doc_id)
        JOIN quality USING (doc_id)
    ),
    canon AS (
        SELECT doc_id, source, n_words,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM lab
    ),
    per_doc AS (
        SELECT d.source,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_q,
               CASE WHEN c.rk = 1 THEN 1 ELSE 0 END AS is_canon,
               CASE WHEN c.rk = 1 THEN c.n_words ELSE 0 END AS kept_tokens
        FROM documents d
        LEFT JOIN quality q ON q.doc_id = d.doc_id
        LEFT JOIN canon c ON c.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_q) AS BIGINT) AS n_quality,
           CAST(SUM(is_canon) AS BIGINT) AS n_canonical,
           CAST(SUM(kept_tokens) AS BIGINT) AS tokens_kept
    FROM per_doc GROUP BY source
"""


@register("curation_pipeline_v2", _PIPELINE_V2_SQL)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's operators COMPOSED into the pipeline a training-data
    team actually ships: Gopher-style quality gate (conjunctive integer
    rules) -> MinHash-LSH near-dup detection on the SURVIVORS ->
    connected components -> keep-longest-canonical -> per-source
    document and token yield.  Every stage reuses the independently
    oracle-gated operator (gopher_quality_flags, minhash_lsh_pairs,
    connected_components, dedup_keep_canonical's argmax), and the
    composed oracle replays the whole chain declaratively — evidence
    the operators COMPOSE, not just pass in isolation.  The oracle's
    pair set is EXACT Jaccard while Spark's comes from verified
    MinHash-LSH — the same equivalence argument as dedup_minhash_lsh
    and dedup_keep_canonical (b=16/r=2 misses a j>=0.5 pair with
    p<=1e-2 only right AT the threshold; the corpus' planted near-dups
    sit at j>=0.97 where p~1e-20), so the gates agree unless a corpus
    plants a near-threshold pair — a property of the test corpus,
    pinned once here rather than re-derived per gate.  Ordering
    matters at scale: the quality filter runs FIRST so the quadratic-ish
    dedup machinery sees only survivors — on real corpora the cheap
    row-local rules drop 30-60% of documents before any shuffle."""
    from .operators.dedup import connected_components, minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    # the CORE flags (no row-preserving join): keep=1 implies a flags
    # row exists, and filtering before any join lets Catalyst prune the
    # aggregate early (the joined public gate measured ~2x slower here)
    keep = _gopher_flags_core(spark, sf_dir).filter(F.col("keep") == 1) \
        .select("doc_id", "n_words")
    filtered = docs.join(keep, "doc_id")
    pairs = minhash_lsh_pairs(filtered, threshold=0.5).select("d1", "d2")
    cc = connected_components(pairs).withColumnRenamed("node", "doc_id")
    lab = (
        filtered.select("doc_id", "source", "n_words",
                        F.length("text").alias("n_chars"))
        .join(cc, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    canon = lab.withColumn("rk", F.row_number().over(w))
    per_doc = (
        docs.select("doc_id", "source")
        .join(canon.select("doc_id",
                           F.lit(1).alias("is_q"),
                           (F.col("rk") == 1).cast("int").alias("is_canon"),
                           F.when(F.col("rk") == 1, F.col("n_words"))
                           .otherwise(0).alias("kept_tokens")),
              "doc_id", "left")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce("is_q", F.lit(0))).cast("long").alias("n_quality"),
        F.sum(F.coalesce("is_canon", F.lit(0))).cast("long")
        .alias("n_canonical"),
        F.sum(F.coalesce("kept_tokens", F.lit(0))).cast("long")
        .alias("tokens_kept"),
    )
