"""Training-data curation wave 3: repetition/quality profiling, PII
scrubbing, BM25 keyword retrieval, and inverted-index construction.

These close out the document-side toolbox a pretraining pipeline needs
between raw text and shard materialization: "is this document degenerate
boilerplate?" (Gopher-style repetition signals, Rae et al. 2021 §A1.1),
"does it leak PII?" (regex scrub + counts), and "can I retrieve over the
corpus?" (BM25 scoring + posting lists — the Lucene/Elasticsearch model,
Robertson & Zaragoza 2009).

Scale notes (100 TB plans):
- Repetition profile: pure row-local array lambdas (O(tokens·distinct)
  per row), whole-stage codegen, ZERO shuffle — scan speed at any scale.
- PII scrub: row-local regexp ops, zero shuffle.
- BM25: the only corpus-wide state is (N, sum_dl) — two scalar longs —
  and per-term document frequencies for the query's terms (|terms| rows).
  Both are broadcast; the corpus side scores map-side in one pass. This
  is the standard "global stats are tiny, broadcast them" shape.
- Inverted index: one shuffle on token (the unavoidable one); postings
  are capped at the head (top-20 doc_ids) so reducer output per token is
  bounded even for stopwords.

Float parity: all fractions are single per-row divisions of exact
integers (policy class 1 — bit-identical across engines); BM25 scores
are micro-quantized to BIGINT before the cross-term sum so the total is
integer-exact regardless of addition order (same device as
tfidf_top_terms / doc_unigram_surprise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.materialize import scoped_persist
from .registry import register, t
from .sources.bronze import local_frame

# =========================================================================
# Gopher-style repetition / degeneracy profile (row-local)
# =========================================================================

@register(
    "doc_repetition_profile",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    base AS (
        SELECT doc_id, l,
               list_transform(range(1, len(l)), i -> concat(l[i], ' ', l[i+1])) AS bg
        FROM toks
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS dup_token_frac,
           CAST(list_max(list_transform(list_distinct(l),
                t -> len(list_filter(l, x -> x = t)))) AS DOUBLE) / len(l)
               AS top_unigram_frac,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE CAST(list_max(list_transform(list_distinct(bg),
                     t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE) / len(bg)
           END AS top_bigram_frac
    FROM base
    """,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/degeneracy signals per document, after Gopher's quality
    rules (duplicate-token fraction, most-frequent-unigram fraction,
    most-frequent-bigram fraction). Documents dominated by one n-gram are
    boilerplate/spam and get dropped before training.

    Everything is a row-local array lambda — `transform`/`filter`/
    `array_max` over the token array — so the profile runs at scan speed
    with zero shuffle on any corpus size. Fractions are single divisions
    of exact integers: bit-identical cross-engine (policy class 1)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = (
        docs.withColumn("l", F.split("text", " "))
        .withColumn(
            "bg",
            F.expr("transform(sequence(1, size(l) - 1),"
                   " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"),
        )
    )
    top_frac = (
        "cast(array_max(transform(array_distinct({a}),"
        " t -> size(filter({a}, x -> x = t)))) as double) / size({a})"
    )
    return out.select(
        "doc_id",
        F.size("l").cast("long").alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct("l")).cast("double") / F.size("l"))
        .alias("dup_token_frac"),
        F.expr(top_frac.format(a="l")).alias("top_unigram_frac"),
        F.when(F.size("bg") == 0, F.lit(0.0))
        .otherwise(F.expr(top_frac.format(a="bg")))
        .alias("top_bigram_frac"),
    )


# =========================================================================
# PII scrubbing — regex redaction with match accounting
# =========================================================================

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

@register(
    "pii_scrub",
    f"""
    WITH synth AS (
        -- the corpus is synthetic and PII-free, so (like the decode
        -- roundtrip gates) each row BUILDS a deterministic PII-bearing
        -- envelope from its own key, then the production scrubber must
        -- find and redact exactly what was planted
        SELECT doc_id,
               concat(
                   'contact user', CAST(doc_id AS VARCHAR), '@example.com ',
                   CASE WHEN doc_id % 3 = 0
                        THEN concat('cc admin', CAST(doc_id AS VARCHAR), '@corp.net ')
                        ELSE '' END,
                   'or call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   ' re: ', array_to_string(string_split(text, ' ')[1:5], ' ')
               ) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM synth
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text: count and replace email/phone matches.
    The corpus is synthetic, so each row plants deterministic PII derived
    from its own doc_id (every third doc gets a second email) and the
    scrubber must redact exactly that — counts and the scrubbed string
    are both hash-checked.

    Patterns stay in the regex subset with identical semantics in Java
    (Spark) and RE2 (DuckDB): character classes, bounded repetition, no
    backrefs/lookaround. Row-local, zero shuffle at any scale."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"), F.lit("@example.com "),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("cc admin"), F.col("doc_id").cast("string"),
                        F.lit("@corp.net ")))
        .otherwise(F.lit("")),
        F.lit("or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.array_join(F.slice(F.split("text", " "), 1, 5), " "),
    )
    out = docs.withColumn("raw", raw)
    return out.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"),
                         _PHONE_RE, "<PHONE>").alias("scrubbed"),
    )


# =========================================================================
# BM25 keyword retrieval — broadcast corpus stats, map-side scoring
# =========================================================================

_BM25_TERMS = ("table", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

def _bm25_terms_sql() -> str:
    return ", ".join(f"('{x}')" for x in _BM25_TERMS)

# The BM25 scoring CTE chain is shared between the bm25_search oracle and
# the hybrid-retrieval fusion oracle below — one definition, two gates.
_BM25_ORACLE_CTES = f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    terms(term) AS (VALUES {_bm25_terms_sql()}),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(l)) AS BIGINT) AS sum_dl
        FROM toks
    ),
    tf AS (
        SELECT t.doc_id, q.term, len(t.l) AS dl,
               len(list_filter(t.l, x -> x = q.term)) AS tf
        FROM toks t CROSS JOIN terms q
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf WHERE tf > 0 GROUP BY 1
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(
                   round(ln((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                            / (d.df + 0.5) + 1.0) * 1e6)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * (CAST(tf.dl * s.n_docs AS DOUBLE) / s.sum_dl)))
               ) AS BIGINT) AS score_micro
        FROM tf JOIN df d USING (term)
        CROSS JOIN stats s
        WHERE tf.tf > 0
    )"""


@register(
    "bm25_search",
    f"""
    WITH {_BM25_ORACLE_CTES}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
    FROM scored
    GROUP BY 1
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of every document against a fixed query term
    set — the retrieval primitive behind corpus search and RAG candidate
    generation (Robertson & Zaragoza 2009; Lucene's practical scoring).

    Scale shape: corpus-global state is two scalars (N, Σdl) plus one df
    row per query term — all broadcast; the corpus side computes tf with
    a row-local array filter and scores map-side in a single pass. No
    corpus shuffle until the final per-doc integer sum (and even that is
    a doc_id-keyed partial agg).

    Parity: idf is micro-nat-quantized (round(ln·1e6) → BIGINT, the
    tfidf_top_terms device) and the per-term score — one double
    expression over exact integer inputs, identical operation order both
    engines — is micro-quantized BEFORE the cross-term sum, so the total
    is an order-free integer sum."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn("l", F.split("text", " ")).select("doc_id", "l")
    # no persist: the three consumers (stats, df, tf) each need only a
    # cheap split+size over the scan, and a persist inside a registry
    # builder would leak cached partitions across driver-contract calls

    stats = toks.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("l")).cast("long").alias("sum_dl"),
    )
    terms = F.explode(F.array(*[F.lit(x) for x in _BM25_TERMS])).alias("term")
    tf = toks.select(
        "doc_id",
        F.size("l").alias("dl"),
        terms,
        "l",
    ).withColumn(
        "tf", F.expr("size(filter(l, x -> x = term))")
    ).drop("l")
    df = (
        tf.filter(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.filter(F.col("tf") > 0)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_micro",
            F.round(
                F.log(
                    ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
                    / (F.col("df") + 0.5) + 1.0
                ) * 1e6
            ),
        )
        .withColumn(
            "score_micro",
            F.round(
                F.col("idf_micro") * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b
                   + b * ((F.col("dl") * F.col("n_docs")).cast("double")
                          / F.col("sum_dl"))))
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_hit"),
        F.sum("score_micro").cast("long").alias("bm25_micro"),
    )


# =========================================================================
# Inverted index — token -> bounded posting list
# =========================================================================

_POSTINGS_CAP = 20

@register(
    "inverted_index_postings",
    f"""
    WITH posting AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
        FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string((list(doc_id ORDER BY doc_id))[1:{_POSTINGS_CAP}], ',')
               AS postings_head
    FROM posting
    GROUP BY 1
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token → document frequency + the
    head of the sorted posting list. The postings string is capped at
    {cap} doc_ids so per-token reducer output stays bounded even for
    stopword-frequency tokens — the same head-truncation a real index
    shard applies per segment.

    One shuffle on token (the inherent one); postings arrive pre-deduped
    (array_distinct before the explode) so join fan-out is bounded by
    document length, and the sort is per-token inside the aggregate, not
    global.""".format(cap=_POSTINGS_CAP)
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    posting = docs.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        "doc_id",
    )
    return posting.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTINGS_CAP), ","
        ).alias("postings_head"),
    )


# =========================================================================
# Weighted sampling — deterministic Efraimidis–Spirakis top-k per source
# =========================================================================

_WSAMPLE_K = 10

@register(
    "weighted_sample_topk",
    f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 1.0) / 4294967296.0,
                   1.0 / n_chars) AS es_key
        FROM documents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY es_key DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
           es_key, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_WSAMPLE_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k per source, via the
    Efraimidis–Spirakis key u^(1/w) (w = n_chars): the standard one-pass
    distributed weighted reservoir — heavier documents are
    proportionally more likely to rank in the top k. The uniform u is
    derived deterministically from md5(doc_id) (first 8 hex chars →
    (h+1)/2^32 ∈ (0,1]) so both engines draw the SAME randomness and the
    sample is hash-checkable; in production the same plan runs with a
    seeded hash over the id.

    One per-source window sort (at true scale: per-partition top-k then
    merge — the rank filter lets AQE keep partial top-k map-side).
    es_key is one pow() over exact integer inputs — bit-identical
    cross-engine (class 1)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    keyed = docs.withColumn(
        "es_key",
        F.pow((h.cast("double") + 1.0) / 4294967296.0, 1.0 / F.col("n_chars")),
    )
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WSAMPLE_K)
        .select(
            "doc_id", "source",
            F.col("n_chars").cast("long").alias("weight"),
            "es_key",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# =========================================================================
# Hybrid retrieval — BM25 + embedding cosine fused by reciprocal rank
# =========================================================================

def _hybrid_oracle_sql() -> str:
    from .registry_llm import _dot_chain

    return f"""
    WITH {_BM25_ORACLE_CTES},
    bm AS (
        SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
        FROM scored GROUP BY 1
    ),
    lex50 AS (
        SELECT doc_id, bm25_micro FROM bm
        ORDER BY bm25_micro DESC, doc_id LIMIT 50
    ),
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id)
                    AS BIGINT) AS rank_lex
        FROM lex50
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    sem0 AS (
        SELECT e.vec_id AS doc_id,
               ({_dot_chain('q', 'e')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('e', 'e')}))
                   AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != 0
    ),
    sem50 AS (
        SELECT doc_id, cosine FROM sem0
        ORDER BY cosine DESC, doc_id LIMIT 50
    ),
    sem AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                    AS BIGINT) AS rank_sem
        FROM sem50
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex.rank_lex, sem.rank_sem,
               COALESCE(CAST(round(1e6 / (60 + lex.rank_lex)) AS BIGINT), 0)
             + COALESCE(CAST(round(1e6 / (60 + sem.rank_sem)) AS BIGINT), 0)
                   AS rrf_micro
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, rrf_micro,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
                      AS fused_rank
        FROM fused
    ) WHERE fused_rank <= 20
    """


@register("hybrid_search_rrf", _hybrid_oracle_sql())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword scores and embedding-cosine scores
    fused with reciprocal rank fusion (Cormack et al. 2009, k=60) — the
    standard candidate-merging shape behind RAG retrieval stacks.

    Scale shape: each ranker's top-50 comes from orderBy+limit
    (TakeOrderedAndProject — per-partition top-k, no global sort of the
    score table); the ROW_NUMBER windows then run over <= 50-row frames,
    and the fusion is a full outer join of two 50-row lists. In a
    multi-query deployment every step partitions by query_id; the
    single-query gate keeps the same operator chain.

    Parity: ranks are integers; each RRF contribution is micro-quantized
    (round(1e6/(60+rank)) -> BIGINT) per ranker BEFORE the cross-ranker
    sum, so the fused score is an order-free integer sum (the registry
    money-sum rule applied to rank fusion)."""
    from .operators.similarity import dot, with_norm

    bm = bm25_search(spark, sf_dir).select("doc_id", "bm25_micro")
    w_lex = Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    lex = (
        bm.orderBy(F.desc("bm25_micro"), F.asc("doc_id")).limit(50)
        .withColumn("rank_lex", F.row_number().over(w_lex).cast("long"))
        .select("doc_id", "rank_lex")
    )

    e = t(spark, sf_dir, "embeddings")
    q = with_norm(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe")),
        "qe", "qn",
    )
    cand = with_norm(
        e.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"), F.col("embedding").alias("ce")
        ),
        "ce", "cn",
    )
    sem0 = cand.crossJoin(F.broadcast(q)).select(
        "doc_id",
        (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w_sem = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    sem = (
        sem0.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(50)
        .withColumn("rank_sem", F.row_number().over(w_sem).cast("long"))
        .select(F.col("doc_id").alias("s_doc_id"), "rank_sem")
    )

    fused = (
        lex.join(sem, lex.doc_id == sem.s_doc_id, "full_outer")
        .select(
            F.coalesce(lex.doc_id, sem.s_doc_id).alias("doc_id"),
            "rank_lex", "rank_sem",
            (
                F.coalesce(
                    F.round(F.lit(1e6) / (F.lit(60) + F.col("rank_lex")))
                    .cast("long"), F.lit(0)
                )
                + F.coalesce(
                    F.round(F.lit(1e6) / (F.lit(60) + F.col("rank_sem")))
                    .cast("long"), F.lit(0)
                )
            ).alias("rrf_micro"),
        )
    )
    w_f = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= 20)
    )


# =========================================================================
# SemDeDup — semantic dedup blocked by nearest-centroid cluster
# =========================================================================

def _semdedup_assigned_ctes(n_centroids: int = 16) -> str:
    from .registry_llm import _dot_chain

    return f"""cent AS (
        SELECT vec_id AS centroid_id, embedding FROM embeddings
        WHERE vec_id < {n_centroids}
    ),
    asg AS (
        SELECT vec_id, centroid_id, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM (
            SELECT e.vec_id, c.centroid_id,
                   ({_dot_chain('e', 'c')})
                   / (sqrt({_dot_chain('e', 'e')}) * sqrt({_dot_chain('c', 'c')})) AS csim
            FROM embeddings e, cent c
        )
    ),
    assigned AS (SELECT vec_id, centroid_id AS cluster_id FROM asg WHERE rn = 1)"""


def _normed_cte() -> str:
    """`normed`: embeddings + the per-vector norm fold, MATERIALIZED.

    Exactly the Spark side's `with_norm` hoist: sqrt of the identical
    left-assoc self-dot chain, evaluated once per VECTOR.  Every pair
    expression then divides by `ea.nrm * eb.nrm` — bit-identical to the
    inline per-pair form (the same operations on the same floats, just
    not recomputed per pair), and 3x fewer 64-term chains in any O(n^2)
    CTE: the brute-force ground-truth replays of the recall gates were
    the two slowest sf1 stress oracles (612.6 s / 494.1 s, VERDICT r6
    #4) precisely because of the per-pair norm recomputation."""
    from .registry_llm import _dot_chain

    return (f"normed AS MATERIALIZED (SELECT vec_id, embedding,"
            f" sqrt({_dot_chain('e', 'e')}) AS nrm FROM embeddings e)")


def _semdedup_pairs_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_semdedup_assigned_ctes()},
    {_normed_cte()}
    SELECT a.cluster_id, a.vec_id AS d1, b.vec_id AS d2, {cos} AS cosine
    FROM assigned a
    JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    JOIN normed ea ON ea.vec_id = a.vec_id
    JOIN normed eb ON eb.vec_id = b.vec_id
    WHERE {cos} >= 4e-1
    """


@register("semdedup_pairs", _semdedup_pairs_sql())
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    WITHIN nearest-centroid clusters — cluster assignment is the blocking
    key, so the pair join is a hash equi-join on cluster_id whose fan-out
    is bounded by the largest cluster, never the all-pairs BNLJ. Centroids
    are the first 16 corpus vectors (the deterministic stand-in for an
    offline k-means — same convention as ann_ivf); cosines are the
    bit-exact fold-order dot chains, so the threshold filter and the
    assignment argmax are engine-identical."""
    from .operators.similarity import assign_clusters, dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    centroids = e.orderBy("vec_id").limit(16)
    # materialize the assignment before the self-join (r11 opt — the
    # same fix semdedup_pairs_probed carries): both join sides read it,
    # and without the persist the map-only Arrow assignment pass — the
    # dominant corpus cost — executes once PER SIDE; query-scoped so the
    # blocks die with the gate.  The cosine uses the Arrow-vectorized
    # fold twin (bit-identical to the expr fold by test_similarity's
    # exhaustive pin) instead of the interpreted zip_with chain.
    assigned = scoped_persist(assign_clusters(e, centroids))
    a = with_norm(
        assigned.select("cluster_id", F.col("vec_id").alias("d1"),
                        F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(
        assigned.select(F.col("cluster_id").alias("_cb"),
                        F.col("vec_id").alias("d2"),
                        F.col("embedding").alias("eb")), "eb", "nb")
    cos = (dot("ea", "eb", vectorized=True)
           / (F.col("na") * F.col("nb"))).alias("cosine")
    return (
        a.join(b, (F.col("cluster_id") == F.col("_cb"))
               & (F.col("d1") < F.col("d2")))
        .select("cluster_id", "d1", "d2", cos)
        .filter(F.col("cosine") >= 4e-1)
    )


def _semdedup_recall_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_semdedup_assigned_ctes()},
    {_normed_cte()},
    assigned4 AS (SELECT vec_id, centroid_id AS cluster_id FROM asg WHERE rn <= 4),
    true_pairs AS (
        SELECT ea.vec_id AS d1, eb.vec_id AS d2
        FROM normed ea JOIN normed eb ON ea.vec_id < eb.vec_id
        WHERE {cos} >= 4e-1
    ),
    found1 AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM assigned a
        JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN normed ea ON ea.vec_id = a.vec_id
        JOIN normed eb ON eb.vec_id = b.vec_id
        WHERE {cos} >= 4e-1
    ),
    found4 AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM assigned4 a
        JOIN assigned4 b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN normed ea ON ea.vec_id = a.vec_id
        JOIN normed eb ON eb.vec_id = b.vec_id
        WHERE {cos} >= 4e-1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM found1) AS n_found_hard,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM found4) AS n_found_probe4,
           CAST(round(1e4 * (SELECT COUNT(*) FROM found1)
                          / (SELECT COUNT(*) FROM true_pairs)) AS BIGINT)
               AS recall_bp_hard,
           CAST(round(1e4 * (SELECT COUNT(*) FROM found4)
                          / (SELECT COUNT(*) FROM true_pairs)) AS BIGINT)
               AS recall_bp_probe4
    """


@register("semdedup_recall", _semdedup_recall_sql())
def semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric quality gate for SemDeDup's blocking loss: counts the
    full brute-force near-dup pairs (the oracle path — BNLJ, sf-scale
    only; excluded from sf1 stress like dedup_embedding_cosine) and the
    cluster-blocked pairs at BOTH ends of the assignment/recall tradeoff
    — hard assignment (1 cluster per vector: cheapest, recall ~19% on
    this corpus with stand-in centroids) and 4-way soft assignment (4x
    candidate fan-out, recall ~92%) — emitting recall in basis points as
    deterministic integers. Same evidentiary pattern as
    similarity_ann_recall: approximation quality is MEASURED and
    hash-pinned, not argued."""
    from .operators.similarity import dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    a = with_norm(e.select(F.col("vec_id").alias("d1"),
                           F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(e.select(F.col("vec_id").alias("d2"),
                           F.col("embedding").alias("eb")), "eb", "nb")
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    true_cnt = (
        a.join(b, F.col("d1") < F.col("d2"))
        .filter(cos >= 4e-1)
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    found1 = semdedup_pairs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_found_hard")
    )
    found4 = _semdedup_multi_pairs(spark, sf_dir, n_assign=4).agg(
        F.count("*").cast("long").alias("n_found_probe4")
    )
    return (
        true_cnt.crossJoin(found1).crossJoin(found4)
        .select(
            "n_true", "n_found_hard", "n_found_probe4",
            F.round(F.lit(1e4) * F.col("n_found_hard") / F.col("n_true"))
            .cast("long").alias("recall_bp_hard"),
            F.round(F.lit(1e4) * F.col("n_found_probe4") / F.col("n_true"))
            .cast("long").alias("recall_bp_probe4"),
        )
    )


def _semdedup_multi_pairs(spark: SparkSession, sf_dir: str,
                          n_assign: int) -> DataFrame:
    """Soft-assignment SemDeDup candidates: each vector joins its
    ``n_assign`` nearest clusters, pairs deduplicate across shared
    clusters — the standard recall knob (cost grows ~n_assign^2 within
    shared clusters, recall measured by semdedup_recall)."""
    from .operators.similarity import dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    centroids = e.orderBy("vec_id").limit(16)
    c = with_norm(
        centroids.select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("ce")), "ce", "cnorm")
    ev = with_norm(e, "embedding", "enorm")
    sim = (dot("embedding", "ce") / (F.col("enorm") * F.col("cnorm"))).alias("csim")
    scored = ev.join(F.broadcast(c)).select("vec_id", "embedding", sim,
                                            "centroid_id")
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_assign)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cluster_id"))
    )
    a = with_norm(
        assigned.select("cluster_id", F.col("vec_id").alias("d1"),
                        F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(
        assigned.select(F.col("cluster_id").alias("_cb"),
                        F.col("vec_id").alias("d2"),
                        F.col("embedding").alias("eb")), "eb", "nb")
    cos = (dot("ea", "eb") / (F.col("na") * F.col("nb")))
    return (
        a.join(b, (F.col("cluster_id") == F.col("_cb"))
               & (F.col("d1") < F.col("d2")))
        .filter(cos >= 4e-1)
        .select("d1", "d2")
        .distinct()
    )


# =========================================================================
# Count-Min Sketch — bounded-memory token frequency estimation
# =========================================================================

_CMS_D = 4            # hash rows
_CMS_W = 256          # buckets per row
_CMS_P = 2147483647   # Mersenne prime 2^31 - 1
_CMS_A = (1103, 12289, 331, 7841)
_CMS_B = (54321, 917, 2469, 13)
_CMS_PROBES = ("table", "join", "window", "select", "merge", "the",
               "zzz_absent", "index")


def _cms_probe_sql() -> str:
    return ", ".join(f"('{p}')" for p in _CMS_PROBES)


def _cms_oracle_sql() -> str:
    buckets = ",\n               ".join(
        f"(({_CMS_A[j]} * base_h + {_CMS_B[j]}) % {_CMS_P}) % {_CMS_W} AS b{j}"
        for j in range(_CMS_D)
    )
    sketch_rows = "\n        UNION ALL\n".join(
        f"        SELECT {j} AS row_id, b{j} AS bucket, cnt FROM tok_counts"
        for j in range(_CMS_D)
    )
    probe_bucket = ",\n               ".join(
        f"(({_CMS_A[j]} * base_h + {_CMS_B[j]}) % {_CMS_P}) % {_CMS_W} AS b{j}"
        for j in range(_CMS_D)
    )
    est_joins = "\n    ".join(
        f"LEFT JOIN cms c{j} ON c{j}.row_id = {j} AND c{j}.bucket = p.b{j}"
        for j in range(_CMS_D)
    )
    least = ("LEAST(" + ", ".join(f"COALESCE(c{j}.total, 0)"
                                  for j in range(_CMS_D)) + ")")
    return f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tok_counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS base_h,
               {buckets}
        FROM (SELECT tok, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS base_h
              FROM toks) _t(tok, base_h)
        GROUP BY tok, base_h
    ),
    sketch_in AS (
{sketch_rows}
    ),
    cms AS (
        SELECT row_id, bucket, CAST(SUM(cnt) AS BIGINT) AS total
        FROM sketch_in GROUP BY 1, 2
    ),
    probes(term) AS (VALUES {_cms_probe_sql()}),
    p AS (
        SELECT term, ('0x' || substr(md5(term), 1, 8))::BIGINT AS base_h,
               {probe_bucket}
        FROM (SELECT term, ('0x' || substr(md5(term), 1, 8))::BIGINT AS base_h
              FROM probes) _p(term, base_h)
    ),
    exact AS (
        SELECT p2.term, COALESCE(tc.cnt, 0) AS exact_cnt
        FROM probes p2 LEFT JOIN tok_counts tc ON tc.tok = p2.term
    )
    SELECT p.term,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
           CAST({least} AS BIGINT) AS cms_estimate,
           ({least} >= e.exact_cnt) AS never_underestimates
    FROM p
    {est_joins}
    JOIN exact e ON e.term = p.term
    """


@register("token_freq_cms", _cms_oracle_sql())
def token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) token-frequency
    estimation, hash-gated against exact counts: the sketch is a
    {_CMS_D}x{_CMS_W} integer grid built with one map-side-combinable
    aggregation; probes read back the row-wise minimum. The
    never_underestimates booleans pin the CMS one-sided error guarantee
    (estimate >= truth, always) per probe — including a token absent
    from the corpus, whose estimate is pure collision mass.

    Cross-engine hashing: the base hash is the first 8 hex chars of
    md5(token) as an integer (identical in Spark's conv(...) and
    DuckdB's hex cast), pushed through {_CMS_D} universal-hash rows
    ((a*h + b) mod p mod w) — all integer-exact.

    Scale shape: the sketch is {_CMS_D * _CMS_W} cells regardless of
    corpus size — THE bounded-memory frequency structure for streams; a
    100 TB build aggregates (row, bucket) partial counts map-side and
    broadcasts the finished grid to probes."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    base_h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    tok_counts = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("base_h", base_h)
    )
    for j in range(_CMS_D):
        tok_counts = tok_counts.withColumn(
            f"b{j}",
            ((F.lit(_CMS_A[j]) * F.col("base_h") + _CMS_B[j]) % _CMS_P) % _CMS_W,
        )
    sketch_in = None
    for j in range(_CMS_D):
        part = tok_counts.select(
            F.lit(j).alias("row_id"), F.col(f"b{j}").alias("bucket"), "cnt"
        )
        sketch_in = part if sketch_in is None else sketch_in.unionByName(part)
    cms = (
        sketch_in.groupBy("row_id", "bucket")
        .agg(F.sum("cnt").cast("long").alias("total"))
    )

    probes = local_frame(spark, [(x,) for x in _CMS_PROBES], "term string")
    p = probes.withColumn(
        "base_h", F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
    )
    for j in range(_CMS_D):
        p = p.withColumn(
            f"b{j}",
            ((F.lit(_CMS_A[j]) * F.col("base_h") + _CMS_B[j]) % _CMS_P) % _CMS_W,
        )
    est = p
    for j in range(_CMS_D):
        cj = cms.filter(F.col("row_id") == j).select(
            F.col("bucket").alias(f"_bk{j}"), F.col("total").alias(f"_t{j}")
        )
        est = est.join(F.broadcast(cj), est[f"b{j}"] == cj[f"_bk{j}"],
                       "left")
    exact = probes.join(
        tok_counts.select(F.col("tok").alias("term"),
                          F.col("cnt").alias("exact_cnt")),
        "term", "left",
    ).select("term", F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt"))
    least = F.least(*[F.coalesce(F.col(f"_t{j}"), F.lit(0))
                      for j in range(_CMS_D)]).cast("long")
    return (
        est.join(exact, "term")
        .select(
            "term", "exact_cnt",
            least.alias("cms_estimate"),
            (least >= F.col("exact_cnt")).alias("never_underestimates"),
        )
    )


# =========================================================================
# Exact substring dedup — maximal cross-document duplicated token spans
# =========================================================================

# Shared shingle->duplicate->hit CTE chain for the exact-substring pair
# of gates (span discovery and span clipping) — one definition, two gates,
# on both engines.
_DUP_SHINGLE_CTES = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sh AS (
        SELECT doc_id, i AS pos, array_to_string(l[i:i+7], ' ') AS s
        FROM toks, LATERAL unnest(range(1, len(l) - 6)) AS t(i)
        WHERE len(l) >= 8
    ),
    dups AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) > 1
    ),
    hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dups USING (s))"""


def _dup_shingle_frames(spark: SparkSession, sf_dir: str):
    """(toks, hits): tokenized documents and the 1-based positions of
    cross-document duplicated 8-gram windows — the Spark twin of
    _DUP_SHINGLE_CTES."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn("l", F.split("text", " "))
    sh = (
        toks.filter(F.size("l") >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(l) - 7),"
                    " i -> concat_ws(' ', slice(l, i, 8)))"
                )
            ).alias("pos0", "s"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    )
    dups = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("s")
    )
    return toks, sh.join(dups, "s").select("doc_id", "pos")


@register(
    "substring_dup_spans",
    f"""
    WITH {_DUP_SHINGLE_CTES},
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication à la Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): maximal token spans
    (>= 8 tokens) that occur verbatim in more than one document — the
    passages a pretraining pipeline clips rather than dropping whole
    docs. A distributed stand-in for the paper's suffix array: fixed-k
    shingles with positions (row-local), cross-doc duplicated shingles
    (one shuffle on the shingle, map-side-combinable HAVING), then
    gaps-and-islands merges overlapping duplicated windows into maximal
    spans per doc (one per-doc window sort).

    At 100 TB the shingle shuffle dominates and is the same cost class
    as MinHash; a df cap on pathological stopword shingles (the
    max_shingle_df device from operators/dedup.py) bounds reducer
    fan-in. All outputs are integer positions — float-parity class 1."""
    _, hits = _dup_shingle_frames(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + 7).cast("long").alias("span_end"),
            (F.max("pos") + 7 - F.min("pos") + 1).cast("long").alias("span_tokens"),
        )
        .drop("grp")
    )


# =========================================================================
# Span clipping — remove duplicated passages, rebuild the clipped text
# =========================================================================

@register(
    "curation_clip_spans",
    f"""
    WITH {_DUP_SHINGLE_CTES},
    covered AS (
        SELECT DISTINCT doc_id, pos + o AS pos
        FROM hits, LATERAL unnest(range(0, 8)) AS u(o)
    ),
    pos_tok AS (
        SELECT doc_id, i AS pos, l[i] AS tok
        FROM toks, LATERAL unnest(range(1, len(l) + 1)) AS t(i)
    ),
    kept AS (
        SELECT p.doc_id, p.pos, p.tok
        FROM pos_tok p ANTI JOIN covered c
          ON c.doc_id = p.doc_id AND c.pos = p.pos
    )
    SELECT t.doc_id,
           CAST(len(t.l) AS BIGINT) AS n_tokens_before,
           CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_tokens_after,
           COALESCE(k.clipped_md5, md5('')) AS clipped_md5
    FROM toks t
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_after,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS clipped_md5
        FROM kept GROUP BY doc_id
    ) k ON k.doc_id = t.doc_id
    """,
)
def curation_clip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup clipping (the action Lee et al. take on the spans
    substring_dup_spans finds): every token position covered by a
    cross-document duplicated 8-gram window is removed, and the clipped
    text is rebuilt in order — n_tokens_before/after plus the md5 of the
    rebuilt string make the surgery hash-verifiable token-for-token.

    Scale shape: the duplicated-shingle set is the one corpus shuffle
    (shared with substring_dup_spans); coverage expansion is a row-local
    8-row explode on hits only; the rebuild is a per-doc sort_array over
    kept positions — partition-parallel, no global sort. Docs clipped to
    nothing emit md5('') rather than disappearing (conservation: every
    input doc_id appears exactly once)."""
    toks, hits = _dup_shingle_frames(spark, sf_dir)
    covered = (
        hits.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("pos"),
        )
        .distinct()
    )
    pos_tok = toks.select(
        "doc_id",
        F.posexplode("l").alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = pos_tok.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_after"),
        F.md5(
            F.array_join(
                F.expr("transform(sort_array(collect_list(struct(pos, tok))),"
                       " x -> x.tok)"),
                " ",
            )
        ).alias("clipped_md5"),
    )
    return (
        toks.select("doc_id", F.size("l").cast("long").alias("n_tokens_before"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", "n_tokens_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_tokens_after"),
            F.coalesce("clipped_md5", F.md5(F.lit(""))).alias("clipped_md5"),
        )
    )


def _bpe_vocab_sql() -> str:
    from .operators.bpe import duckdb_train_ctes

    return f"""
    WITH {duckdb_train_ctes(6)}
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(freq) AS BIGINT) AS total_freq
    FROM (SELECT freq, unnest(string_split(s, chr(1))) AS symbol FROM s6)
    GROUP BY 1
    """


@register("bpe_vocab", _bpe_vocab_sql())
def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE subword vocabulary after 6 merges over the document
    corpus (operators/bpe.py): (symbol, n_words, total_freq). Iterative
    and eager by nature — one bounded shuffle over the word-frequency
    table per merge, driver state one row per iteration (the kmeans
    contract).  Was rows-only through r4 session 1; now EXACT — the
    oracle unrolls the 6 training iterations as DuckDB CTE stages
    (operators/bpe.py duckdb_train_ctes, the kmeans_micro device), each
    re-deriving the argmax merge and re-applying the greedy fold, so
    both engines land on the identical merge sequence and vocabulary.
    The pure-Python reference in tests/test_bpe.py remains as the
    third, independent implementation."""
    from .operators.bpe import train_bpe, vocab_from_sequences

    docs = t(spark, sf_dir, "documents")
    _, seqs = train_bpe(docs, n_merges=6)
    # vocab-cardinality blocks; scoped_persist releases them, and the
    # training frame train_bpe tracked, when the NEXT driver-contract
    # query starts, so a 50-gate sweep in one session never accumulates
    # them (r5's OOM)
    return scoped_persist(vocab_from_sequences(seqs))


# =========================================================================
# Model inference — broadcast linear scorer over the embedding column
# =========================================================================

_LM_DIM = 64


def _lm_weight(i: int) -> float:
    """Deterministic rational weights (exactly representable in binary
    would be ideal, but /10 is fine: both engines parse the same literal
    to the same double)."""
    return ((i * 7) % 13 - 6) / 10.0


def _lm_margin_sql(alias: str) -> str:
    return " + ".join(
        f"CAST({alias}.embedding[{i}] AS DOUBLE) * {_lm_weight(i)!r}"
        for i in range(1, _LM_DIM + 1)
    ) + " + 0.05"


@register(
    "linear_model_confusion",
    f"""
    WITH scored AS (
        SELECT vec_id,
               (label % 2 = 1) AS y_true,
               ({_lm_margin_sql('e')}) AS margin
        FROM embeddings e
    )
    SELECT y_true,
           (margin > 0.0) AS y_pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(margin * 1e6) AS BIGINT)) AS BIGINT)
               AS margin_micro_sum
    FROM scored
    GROUP BY y_true, (margin > 0.0)
    """,
)
def linear_model_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference at scale: a fixed linear scorer (the quality-
    classifier deployment shape — fastText/logreg weights broadcast to
    every executor, scoring as pure column arithmetic in one scan, zero
    shuffle until the confusion-matrix aggregate). The margin is a
    fixed-order 64-term dot chain plus bias — bit-exact cross-engine like
    the similarity dot products — so the decision boundary, per-cell
    counts, and micro-quantized margin sums all hash-match. No sigmoid:
    monotone transforms don't change predictions, and libm exp is NOT
    bit-portable across engines — the margin is the parity-safe score."""
    e = t(spark, sf_dir, "embeddings")
    margin = None
    for i in range(1, _LM_DIM + 1):
        term = F.element_at("embedding", i).cast("double") * F.lit(_lm_weight(i))
        margin = term if margin is None else margin + term
    margin = margin + F.lit(0.05)
    scored = e.select(
        (F.col("label") % 2 == 1).alias("y_true"),
        margin.alias("margin"),
    )
    return (
        scored.groupBy("y_true", (F.col("margin") > 0.0).alias("y_pred"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("margin") * 1e6).cast("long"))
            .cast("long").alias("margin_micro_sum"),
        )
    )


# =========================================================================
# SemDeDup with TRAINED centroids — engine-reproducible micro-k-means
# =========================================================================
#
# VERDICT r3 #4: the stand-in first-16 centroids produce huge clusters
# (hard-assignment recall ~19%); training shrinks the max cluster and
# lifts recall. The blocker for an oracle-exact trained gate is that a
# double-mean k-means is partial-agg-order dependent — so the trainer
# here is operators.similarity.kmeans_micro: centroids derive only from
# ORDER-FREE integer micro-sums and single deterministic double ops,
# letting DuckDB re-run the identical training as unrolled SQL CTEs and
# land on bit-identical centroids, assignments, and pair sets.

_KM_DIM = 64
_KM_K = 16
_KM_ITERS = 2
_KM_SCALE = "1000000.0"


def _vchain(a: str, b: str) -> str:
    """64-term left-assoc dot chain over explicit array expressions."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, _KM_DIM + 1)
    )


def _km_assign_cte(name: str, cents: str, nprobe: int = 1) -> str:
    """Assignment CTE: each vector's ``nprobe`` nearest centroids from
    ``cents`` (hard argmax at the default 1; soft multi-probe above).
    ONE builder for both forms so the bit-exact cosine chain and the
    centroid-id tie-break — the things a cross-engine gate lives or
    dies on — exist exactly once."""
    cos = (f"({_vchain('e.embedding', 'c.ce')})"
           f" / (sqrt({_vchain('e.embedding', 'e.embedding')})"
           f" * sqrt({_vchain('c.ce', 'c.ce')}))")
    cond = "rn = 1" if nprobe == 1 else f"rn <= {nprobe}"
    return f"""{name} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cid) AS rn
            FROM embeddings e, {cents} c
        ) WHERE {cond}
    )"""


def _km_ctes() -> str:
    """The unrolled training: init -> (assign, integer-mean)^iters ->
    final assignment, mirroring kmeans_micro step for step."""
    s = _KM_SCALE
    # CAST the float element to DOUBLE before scaling: DuckDB keeps
    # FLOAT * 1000000.0 in FLOAT32, which lands boundary elements on
    # float32-quantized half-integers and flips ~0.5% of micro-rounds vs
    # Spark's float→double widening (found by cluster_distance_outliers,
    # the first gate to compare cosine VALUES rather than rankings).
    init_list = ", ".join(
        f"CAST(CAST(round(CAST(embedding[{i}] AS DOUBLE) * {s}) AS BIGINT)"
        f" AS DOUBLE) / {s}"
        for i in range(1, _KM_DIM + 1)
    )
    # seed selection must mirror the Spark side's orderBy(vec_id).limit(k)
    # (kmeans_micro) on ANY id domain — WHERE vec_id < k only agrees when
    # ids are contiguous from 0 (ADVICE r4); _ivf_oracle_sql already uses
    # the ORDER BY ... LIMIT form
    parts = [f"""tc0 AS (
        SELECT vec_id AS cid, [{init_list}] AS ce
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {_KM_K})
    )"""]
    for it in range(1, _KM_ITERS + 1):
        sums = ", ".join(
            f"SUM(CAST(round(CAST(e.embedding[{i}] AS DOUBLE) * {s})"
            f" AS BIGINT)) AS s{i}"
            for i in range(1, _KM_DIM + 1)
        )
        mean_list = ", ".join(
            f"CAST(s{i} AS DOUBLE) / (n * {s})" for i in range(1, _KM_DIM + 1)
        )
        parts.append(_km_assign_cte(f"ta{it}", f"tc{it - 1}"))
        parts.append(f"""tm{it} AS (
        SELECT a.cid, COUNT(*) AS n, {sums}
        FROM ta{it} a JOIN embeddings e USING (vec_id) GROUP BY a.cid
    )""")
        parts.append(f"""tc{it} AS MATERIALIZED (SELECT cid, [{mean_list}] AS ce FROM tm{it})""")
    parts.append(_km_assign_cte("tassigned", f"tc{_KM_ITERS}"))
    return ",\n    ".join(parts)


def _semdedup_trained_pairs_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_km_ctes()},
    {_normed_cte()}
    SELECT a.cid AS cluster_id, a.vec_id AS d1, b.vec_id AS d2, {cos} AS cosine
    FROM tassigned a
    JOIN tassigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN normed ea ON ea.vec_id = a.vec_id
    JOIN normed eb ON eb.vec_id = b.vec_id
    WHERE {cos} >= 4e-1
    """


def _cluster_pairs(assigned, distinct: bool = False):
    """(d1, d2) candidate pairs sharing a cluster in ``assigned``
    (vec_id, cluster_id[, ...]) — ONE definition of the blocked pair
    shape shared by the trained/probed pair gates and their recall
    twins, so a tie-break or key change cannot make a pairs operator
    and its recall gate silently disagree.  ``distinct=True`` collapses
    multi-probe co-membership (a pair sharing 2 clusters counts once)."""
    cand = (
        assigned.select("cluster_id", F.col("vec_id").alias("d1"))
        .join(assigned.select(F.col("cluster_id").alias("_cb"),
                              F.col("vec_id").alias("d2")),
              (F.col("cluster_id") == F.col("_cb"))
              & (F.col("d1") < F.col("d2")))
    )
    if distinct:
        return cand.select("d1", "d2").distinct()
    return cand


def _trained_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import assign_clusters, kmeans_micro

    e = t(spark, sf_dir, "embeddings")
    cents = kmeans_micro(e, k=_KM_K, iters=_KM_ITERS)
    return assign_clusters(
        e,
        cents.select(F.col("centroid_id").alias("vec_id"), "embedding"),
    )


@register("semdedup_pairs_trained", _semdedup_trained_pairs_sql())
def semdedup_pairs_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs blocked by TRAINED micro-k-means clusters. Identical
    join shape to semdedup_pairs; only the blocking key quality changes —
    trained centroids balance the partition sizes, which is what bounds
    the equi-join fan-out (and the 100 TB cost) by the largest cluster.
    NOTE: this gate carries the embeddings THROUGH the pair join (one
    join instead of pair-then-rejoin), so it does not call the shared
    ``_cluster_pairs`` — its recall twin derives found-pairs from the
    same assignment via the helper, which is what pins agreement."""
    from .operators.similarity import dot, with_norm

    assigned = _trained_assigned(spark, sf_dir)
    a = with_norm(
        assigned.select("cluster_id", F.col("vec_id").alias("d1"),
                        F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(
        assigned.select(F.col("cluster_id").alias("_cb"),
                        F.col("vec_id").alias("d2"),
                        F.col("embedding").alias("eb")), "eb", "nb")
    cos = (dot("ea", "eb", vectorized=True)
           / (F.col("na") * F.col("nb"))).alias("cosine")
    return (
        a.join(b, (F.col("cluster_id") == F.col("_cb"))
               & (F.col("d1") < F.col("d2")))
        .select("cluster_id", "d1", "d2", cos)
        .filter(F.col("cosine") >= 4e-1)
    )


def _semdedup_trained_recall_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_km_ctes()},
    {_normed_cte()},
    true_pairs AS MATERIALIZED (
        SELECT ea.vec_id AS d1, eb.vec_id AS d2
        FROM normed ea JOIN normed eb ON ea.vec_id < eb.vec_id
        WHERE {cos} >= 4e-1
    ),
    found AS MATERIALIZED (
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM tassigned a
        JOIN tassigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN normed ea ON ea.vec_id = a.vec_id
        JOIN normed eb ON eb.vec_id = b.vec_id
        WHERE {cos} >= 4e-1
    ),
    csize AS (SELECT cid, COUNT(*) AS n FROM tassigned GROUP BY cid)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found_trained,
           CAST(round(1e4 * (SELECT COUNT(*) FROM found)
                          / (SELECT COUNT(*) FROM true_pairs)) AS BIGINT)
               AS recall_bp_trained,
           (SELECT CAST(MAX(n) AS BIGINT) FROM csize) AS max_cluster
    """


@register("semdedup_recall_trained", _semdedup_trained_recall_sql())
def semdedup_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured blocking quality of the TRAINED clusters: recall of the
    brute-force near-dup pair set (basis points, integer-exact) plus the
    max cluster size (the quantity that bounds the pair join's fan-out).
    Companion evidence for semdedup_pairs_trained, same pattern as
    semdedup_recall for the stand-in centroids (hard recall ~19% there)."""
    from .operators.similarity import dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    a = with_norm(e.select(F.col("vec_id").alias("d1"),
                           F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(e.select(F.col("vec_id").alias("d2"),
                           F.col("embedding").alias("eb")), "eb", "nb")
    cos = dot("ea", "eb", vectorized=True) / (F.col("na") * F.col("nb"))
    true_cnt = (
        a.join(b, F.col("d1") < F.col("d2"))
        .filter(cos >= 4e-1)
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    # ONE training run feeds the found-pair count AND the cluster-size
    # stat (review fix: calling semdedup_pairs_trained here re-ran the
    # whole kmeans_micro training for bit-identical centroids); the
    # scoped persist materializes the assignment once for its three
    # readers and is released when the next driver-contract query starts
    assigned = scoped_persist(_trained_assigned(spark, sf_dir))
    found_cnt = (
        _cluster_pairs(assigned)
        .join(a, "d1").join(b, "d2")
        .filter(cos >= 4e-1)
        .agg(F.count("*").cast("long").alias("n_found_trained"))
    )
    max_cluster = assigned.groupBy("cluster_id").count().agg(
        F.max("count").cast("long").alias("max_cluster"))
    out = (
        true_cnt.crossJoin(found_cnt).crossJoin(max_cluster)
        .select(
            "n_true", "n_found_trained",
            F.round(F.lit(1e4) * F.col("n_found_trained") / F.col("n_true"))
            .cast("long").alias("recall_bp_trained"),
            "max_cluster",
        )
    )
    return out


# =========================================================================
# SemDeDup, multi-probe: the recall knob of cluster blocking
# =========================================================================

def _km_assign_probe_cte(name: str, cents: str, nprobe: int) -> str:
    """Thin alias over :func:`_km_assign_cte` kept for call-site clarity."""
    return _km_assign_cte(name, cents, nprobe=nprobe)


_SD_NPROBE = 2


def _semdedup_probed_pairs_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_km_ctes()},
    {_normed_cte()},
    {_km_assign_probe_cte("passigned", f"tc{_KM_ITERS}", _SD_NPROBE)},
    cand AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM passigned a JOIN passigned b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT d1, d2, {cos} AS cosine
    FROM cand
    JOIN normed ea ON ea.vec_id = d1
    JOIN normed eb ON eb.vec_id = d2
    WHERE {cos} >= 4e-1
    """


def _probe_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import assign_clusters_probe, kmeans_micro

    e = t(spark, sf_dir, "embeddings")
    cents = kmeans_micro(e, k=_KM_K, iters=_KM_ITERS)
    return assign_clusters_probe(
        e,
        cents.select(F.col("centroid_id").alias("vec_id"), "embedding"),
        nprobe=_SD_NPROBE,
    )


@register("semdedup_pairs_probed", _semdedup_probed_pairs_sql())
def semdedup_pairs_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs with MULTI-PROBE cluster blocking: every vector
    sits in its 2 nearest trained clusters, so boundary-straddling
    near-dups that hard assignment separates still meet in a shared
    block.  The candidate set is the DISTINCT union over probe clusters
    (a pair sharing both clusters is counted once); fan-out is bounded
    by nprobe² x the hard-assignment cost.  This — not coarse label
    blocking — is the production embedding-dedup path at 100 TB:
    trained, balanced, recall-tunable (semdedup_recall_probed measures
    exactly what nprobe=2 buys over hard assignment)."""
    from .operators.similarity import dot, with_norm

    # materialize the probed assignment before the self-join: both join
    # sides read it, and without the materialization the kmeans
    # cross-join + per-vector window subplan would execute once per side
    # (review fix — the same double-work the recall gate's persist
    # removes); query-scoped so the blocks die with the gate
    assigned = scoped_persist(_probe_assigned(spark, sf_dir))
    cand = _cluster_pairs(assigned, distinct=True)
    e = t(spark, sf_dir, "embeddings")
    ea = with_norm(e.select(F.col("vec_id").alias("d1"),
                            F.col("embedding").alias("ea")), "ea", "na")
    eb = with_norm(e.select(F.col("vec_id").alias("d2"),
                            F.col("embedding").alias("eb")), "eb", "nb")
    cos = (dot("ea", "eb", vectorized=True)
           / (F.col("na") * F.col("nb"))).alias("cosine")
    return (
        cand.join(ea, "d1").join(eb, "d2")
        .select("d1", "d2", cos)
        .filter(F.col("cosine") >= 4e-1)
    )


def _semdedup_probed_recall_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH {_km_ctes()},
    {_normed_cte()},
    {_km_assign_probe_cte("passigned", f"tc{_KM_ITERS}", _SD_NPROBE)},
    cand AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM passigned a JOIN passigned b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    true_pairs AS MATERIALIZED (
        SELECT ea.vec_id AS d1, eb.vec_id AS d2
        FROM normed ea JOIN normed eb ON ea.vec_id < eb.vec_id
        WHERE {cos} >= 4e-1
    ),
    found AS MATERIALIZED (
        SELECT c.d1, c.d2
        FROM cand c
        JOIN normed ea ON ea.vec_id = c.d1
        JOIN normed eb ON eb.vec_id = c.d2
        WHERE {cos} >= 4e-1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found_probed,
           CAST(round(1e4 * (SELECT COUNT(*) FROM found)
                          / (SELECT COUNT(*) FROM true_pairs)) AS BIGINT)
               AS recall_bp_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates
    """


@register("semdedup_recall_probed", _semdedup_probed_recall_sql())
def semdedup_recall_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of nprobe=2 cluster blocking against the
    brute-force near-dup pair set (basis points, integer-exact), plus
    the candidate count that prices it.  Companion evidence for
    semdedup_pairs_probed — together with semdedup_recall_trained
    (hard assignment) this quantifies the recall/fan-out trade the
    nprobe knob controls."""
    from .operators.similarity import dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    a = with_norm(e.select(F.col("vec_id").alias("d1"),
                           F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(e.select(F.col("vec_id").alias("d2"),
                           F.col("embedding").alias("eb")), "eb", "nb")
    cos = dot("ea", "eb", vectorized=True) / (F.col("na") * F.col("nb"))
    true_cnt = (
        a.join(b, F.col("d1") < F.col("d2"))
        .filter(cos >= 4e-1)
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    # ONE probed assignment feeds both counts (review fix: calling
    # semdedup_pairs_probed here re-ran kmeans_micro and rebuilt the
    # identical candidate set — the two most expensive stages — twice;
    # and the old cand.persist() was never released).  scoped_persist
    # materializes the candidate pairs once and releases them when the
    # next driver-contract query starts.
    assigned = _probe_assigned(spark, sf_dir)
    cand = scoped_persist(_cluster_pairs(assigned, distinct=True))
    found_cnt = (
        cand.join(a, "d1").join(b, "d2")
        .filter(cos >= 4e-1)
        .agg(F.count("*").cast("long").alias("n_found_probed"))
    )
    cand_cnt = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    out = (
        true_cnt.crossJoin(found_cnt).crossJoin(cand_cnt)
        .select(
            "n_true", "n_found_probed",
            F.round(F.lit(1e4) * F.col("n_found_probed") / F.col("n_true"))
            .cast("long").alias("recall_bp_probed"),
            "n_candidates",
        )
    )
    return out


# =========================================================================
# End-to-end embedding dedup: probed cluster blocking -> CC -> canonical
# =========================================================================

def _embedding_canonical_sql() -> str:
    from .registry_llm import _dot_chain

    # norms hoisted per vector via the `normed` CTE (bit-identical; see
    # _normed_cte) — 3x fewer fold chains in the pair hot loop
    cos = f"({_dot_chain('ea', 'eb')}) / (ea.nrm * eb.nrm)"
    return f"""
    WITH RECURSIVE {_km_ctes()},
    {_normed_cte()},
    {_km_assign_probe_cte("passigned", f"tc{_KM_ITERS}", _SD_NPROBE)},
    cand AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM passigned a JOIN passigned b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    edges AS MATERIALIZED (
        SELECT d1, d2 FROM cand
        JOIN normed ea ON ea.vec_id = d1
        JOIN normed eb ON eb.vec_id = d2
        WHERE {cos} >= 4e-1
    ),
    sym AS (
        SELECT d1 AS a, d2 AS b FROM edges
        UNION
        SELECT d2 AS a, d1 AS b FROM edges
    ),
    locmin AS (SELECT a FROM sym GROUP BY a HAVING MIN(b) > a),
    down(node, lab) AS (
        SELECT a, a FROM locmin
        UNION
        SELECT s.b, d.lab FROM down d JOIN sym s
          ON s.a = d.node AND d.lab < s.b
    ),
    lbl AS (SELECT node, MIN(lab) AS cluster_id FROM down GROUP BY node)
    SELECT e.vec_id,
           COALESCE(l.cluster_id, e.vec_id) AS canon_id,
           CAST(COALESCE(l.cluster_id, e.vec_id) = e.vec_id AS INT) AS keep
    FROM embeddings e
    LEFT JOIN lbl l ON l.node = e.vec_id
    """


@register("dedup_embedding_canonical", _embedding_canonical_sql())
def dedup_embedding_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup verdict: trained multi-probe cluster
    blocking (kmeans_micro, nprobe=2) -> cosine >= 0.4 edges ->
    connected components -> per-vector (canon_id, keep). One row per
    corpus vector; keep=1 iff the vector is its component's minimum id
    (or has no near-dup edge at all). This SUPERSEDES the retired
    label-blocked pair gate (dedup_embedding_cosine_blocked, r5): same
    equi-join scale shape, but blocked on TRAINED clusters — measured
    recall 76.3% at nprobe=2 vs 30.5% hard (semdedup_recall_probed) —
    and composed through to the keep decision a curation pipeline
    actually consumes. The oracle replays the full pipeline (unrolled
    k-means training, probe routing, and a recursive-CTE min-label
    propagation seeded ONLY from the graph's local minima — exact
    because every component's global minimum is a local minimum and
    reaches all members, so the per-node MIN recovers it; the d.lab <
    s.b guard prunes without ever blocking the global min, which is
    smaller than every node it visits. This replaced the full
    transitive closure, whose O(sum |component|^2) row count cost ~28
    min per sf1 replay; propagation is O(#local minima x component)
    rows, ~1 per dense near-dup cluster), so the contract is
    pipeline-replication exactness on a fixed corpus — the ann_ivf
    precedent; the probed-blocking recall trade itself is priced by
    the *_recall_* companions, not hidden here."""
    from .operators.dedup import connected_components
    from .operators.similarity import dot, with_norm

    assigned = scoped_persist(_probe_assigned(spark, sf_dir))
    cand = _cluster_pairs(assigned, distinct=True)
    e = t(spark, sf_dir, "embeddings")
    ea = with_norm(e.select(F.col("vec_id").alias("d1"),
                            F.col("embedding").alias("ea")), "ea", "na")
    eb = with_norm(e.select(F.col("vec_id").alias("d2"),
                            F.col("embedding").alias("eb")), "eb", "nb")
    cos = dot("ea", "eb", vectorized=True) / (F.col("na") * F.col("nb"))
    edges = (cand.join(ea, "d1").join(eb, "d2")
             .filter(cos >= 4e-1).select("d1", "d2"))
    comp = connected_components(edges)
    return (
        e.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("canon_id"),
        )
        .withColumn("keep", (F.col("canon_id") == F.col("vec_id")).cast("int"))
    )


# =========================================================================
# IVF search over the TRAINED codebook
# =========================================================================

def _ivf_trained_sql(nprobe: int = 4, k: int = 10) -> str:
    # NOTE: shape-twin of registry_llm._ivf_oracle_sql with the trained
    # tc{iters} codebook instead of the first-16 corpus rows. The
    # bit-exactness-critical pieces (cosine fold order, id tie-breaks)
    # are NOT duplicated — they come from the shared _dot_chain/_vchain
    # generators; only the CTE plumbing differs. If the pipeline SHAPE
    # changes (probe routing, rank rule), change both.
    from .registry_llm import _dot_chain

    def vcos(a_arr: str, b_arr: str) -> str:
        return (f"({_vchain(a_arr, b_arr)}) / "
                f"(sqrt({_vchain(a_arr, a_arr)})"
                f" * sqrt({_vchain(b_arr, b_arr)}))")

    qcos = (f"({_dot_chain('q', 'a')}) / "
            f"(sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('a', 'a')}))")
    return f"""
    WITH {_km_ctes()},
    q AS (SELECT vec_id AS query_id, embedding
          FROM embeddings WHERE vec_id < 5),
    asg AS (
        SELECT vec_id, embedding, cid AS cluster_id FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {vcos('e.embedding', 'c.ce')} DESC, c.cid)
                       AS rn
            FROM embeddings e, tc{_KM_ITERS} c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid AS cluster_id FROM (
            SELECT q.query_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {vcos('q.embedding', 'c.ce')} DESC, c.cid)
                       AS rn
            FROM q, tc{_KM_ITERS} c
        ) WHERE rn <= {nprobe}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, {qcos} AS cosine
        FROM probes p
        JOIN asg a ON a.cluster_id = p.cluster_id
        JOIN q ON q.query_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
          FROM cand)
    WHERE rank <= {k}
    """


@register("similarity_ann_ivf_trained", _ivf_trained_sql())
def similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN routed through the TRAINED micro-k-means codebook instead
    of the first-16 stand-in — the offline index build a production
    deployment runs once and broadcasts.  Same assignment/probe/rank
    machinery (operators/similarity.ann_ivf with explicit centroids),
    same exact full-pipeline oracle shape as similarity_ann_ivf, with
    the unrolled training CTEs supplying the codebook.  Together the
    stand-in and trained gates pin that search quality is a property of
    the codebook, not the router."""
    from .operators.similarity import ann_ivf, kmeans_micro

    e = t(spark, sf_dir, "embeddings")
    cents = kmeans_micro(e, k=_KM_K, iters=_KM_ITERS).select(
        F.col("centroid_id").alias("vec_id"), "embedding")
    return ann_ivf(e, e.filter(F.col("vec_id") < 5), k=10, nprobe=4,
                   centroids=cents)


def _ivf_trained_recall_sql(nprobe: int = 4, k: int = 10) -> str:
    from .registry_llm import _dot_chain

    def vcos(a_arr: str, b_arr: str) -> str:
        return (f"({_vchain(a_arr, b_arr)}) / "
                f"(sqrt({_vchain(a_arr, a_arr)})"
                f" * sqrt({_vchain(b_arr, b_arr)}))")

    qcos = (f"({_dot_chain('q', 'e')}) / "
            f"(sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('e', 'e')}))")
    return f"""
    WITH {_km_ctes()},
    q AS (SELECT vec_id AS query_id, embedding
          FROM embeddings WHERE vec_id < 5),
    asg AS (
        SELECT vec_id, cid AS cluster_id FROM (
            SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {vcos('e.embedding', 'c.ce')} DESC, c.cid) AS rn
            FROM embeddings e, tc{_KM_ITERS} c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid AS cluster_id FROM (
            SELECT q.query_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {vcos('q.embedding', 'c.ce')} DESC, c.cid) AS rn
            FROM q, tc{_KM_ITERS} c
        ) WHERE rn <= {nprobe}
    ),
    ivf_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id)
                   AS rank
            FROM (
                SELECT p.query_id, a.vec_id AS neighbor_id, {qcos} AS cosine
                FROM probes p
                JOIN asg a ON a.cluster_id = p.cluster_id
                            AND a.vec_id <> p.query_id
                JOIN q ON q.query_id = p.query_id
                JOIN embeddings e ON e.vec_id = a.vec_id
            )
        ) WHERE rank <= {k}
    ),
    exact_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id)
                   AS rank
            FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id, {qcos} AS cosine
                FROM q, embeddings e
                WHERE e.vec_id <> q.query_id
            )
        ) WHERE rank <= {k}
    )
    SELECT x.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
           CAST({k} AS BIGINT) AS k
    FROM exact_topk x
    LEFT JOIN ivf_topk i
      ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register("similarity_ann_recall_trained", _ivf_trained_recall_sql())
def similarity_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF with the TRAINED codebook at production nprobe=4,
    against the brute-force reference — integer-exact, same pattern as
    similarity_ann_recall for the first-16 stand-in.  The pair of gates
    quantifies what codebook training buys the SEARCH path (the dedup
    path's version is semdedup_recall_trained/probed).  Measured at
    sf0.01: trained 42/50 hits vs stand-in 46/50 — on this corpus
    balanced trained clusters SHRINK the per-probe candidate pool (the
    skewed stand-in assignment routes most queries into one giant
    cluster that happens to contain their neighbors), an honest
    demonstration that blocking quality for DEDUP (balance bounds
    fan-out) and routing quality for SEARCH (recall wants the
    neighborhood co-located) optimize different objectives; production
    tuning raises nprobe or k_centroids per the recall gate, which is
    exactly what these gates exist to measure."""
    from .operators.similarity import ann_ivf, cosine_topk, kmeans_micro

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cents = kmeans_micro(e, k=_KM_K, iters=_KM_ITERS).select(
        F.col("centroid_id").alias("vec_id"), "embedding")
    ivf = ann_ivf(e, q, k=10, nprobe=4, centroids=cents)
    exact = cosine_topk(e, q, k=10)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("hits"))
    )
    return hits.select("query_id", "hits", F.lit(10).cast("long").alias("k"))
