"""Driver-contract entries for the scale extensions (SURVEY.md §7.2 step 8):
deduplication, similarity search, text analysis, multimodal plumbing.

Same float-parity policy as :mod:`registry`; here almost everything is
exact — md5 digests, integer counts, int/int divisions, and dot products
expressed as identical sequential double folds on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import ORACLES, QUERIES, register, t

DIM = 64  # embedding dimensionality in the driver tables

# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(1, len(string_split(text, ' ')) - 2) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS s
        FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    ipair AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
"""

# exact-Jaccard near-dup pairs (threshold 0.5) + symmetric closure +
# transitive reach over the _SHINGLES_CTE relations — ONE definition of
# the cluster-membership oracle, shared by dedup_clusters,
# dedup_keep_canonical, and the composed curation pipeline so a
# threshold or closure change cannot make them silently disagree.
_CC_REACH_CTE = """
    pairs AS (
        SELECT d1, d2
        FROM ipair
        JOIN sz sa ON sa.doc_id = d1
        JOIN sz sb ON sb.doc_id = d2
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 5e-1
    ),
    sym AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(src, dst) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
    )
"""

_JACCARD_SQL = f"""
    WITH {_SHINGLES_CTE}
    SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM ipair
    JOIN sz sa ON sa.doc_id = d1
    JOIN sz sb ON sb.doc_id = d2
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 5e-1
"""


def _dot_chain(a: str, b: str) -> str:
    """64-term left-assoc double product chain — the same fold order as
    Spark's aggregate(zip_with(...)) sequential accumulation."""
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    return exact_dedup(t(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5,
                               oracle=True)


# MinHash-LSH with exact-Jaccard verification: at threshold 0.5 every
# surviving pair must pass the same exact-Jaccard test as the brute force,
# and with b=16, r=2 the LSH miss probability at j>=0.5 is <= (1-0.25)^16
# = 1.0e-2 per pair at the threshold — and the corpus' planted near-dups
# sit at j>=0.97 where the miss probability is ~1e-20, so the verified
# output equals the brute-force oracle.
@register("dedup_minhash_lsh", _JACCARD_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(t(spark, sf_dir, "documents"), threshold=0.5)


def _simhash_sql(weighted: bool = False) -> str:
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    sums = ", ".join(
        f"SUM(((h // {2 ** j}) % 2) * 2 - 1) AS s{j}" for j in range(32)
    )
    sig = " + ".join(f"(CASE WHEN s{j} >= 0 THEN 1 ELSE 0 END) * {2 ** j}" for j in range(32))
    toks = ("string_split(text, ' ')" if weighted
            else "list_distinct(string_split(text, ' '))")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({toks}) AS tok
        FROM documents
    ),
    hashed AS (SELECT doc_id, {hexval} AS h FROM toks),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
    """


@register("dedup_simhash_signatures", _simhash_sql())
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_signatures

    return simhash_signatures(t(spark, sf_dir, "documents"))


@register("dedup_simhash_weighted", _simhash_sql(weighted=True))
def dedup_simhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar's weighted SimHash with term-frequency weights."""
    from .operators.dedup import simhash_signatures

    return simhash_signatures(t(spark, sf_dir, "documents"), weighted=True)


@register(
    "dedup_char_jaccard",
    """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(1, length(text) - 4) + 1),
                   i -> text[i:i+4]))) AS s
        FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    ipair AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM ipair
    JOIN sz sa ON sa.doc_id = d1
    JOIN sz sb ON sb.doc_id = d2
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 7e-1
    """,
)
def dedup_char_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard near-dup pairs (tokenization-robust)."""
    from .operators.dedup import char_jaccard_pairs

    return char_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.7,
                              n=5, oracle=True)


_CHAR_DF_CAP = 64

@register(
    "dedup_char_jaccard_capped",
    f"""
    WITH sh0 AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(1, length(text) - 4) + 1),
                   i -> text[i:i+4]))) AS s
        FROM documents
    ),
    keep AS (
        SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {_CHAR_DF_CAP}
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (s)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    ipair AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM ipair
    JOIN sz sa ON sa.doc_id = d1
    JOIN sz sb ON sb.doc_id = d2
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 7e-1
    """,
)
def dedup_char_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char 5-gram Jaccard with the document-frequency cap — the
    stress-runnable form of the brute path. Char grams collide across
    documents that share no word shingles (measured ~100× pair blow-up on
    the sf1 stress corpus), so the O(df²) self-join MUST drop over-common
    grams first at scale; Jaccard is then over the discriminative gram
    set (denominators count kept grams only, identically in the oracle)."""
    from .operators.dedup import char_jaccard_pairs

    return char_jaccard_pairs(
        t(spark, sf_dir, "documents"), threshold=0.7, n=5,
        max_chargram_df=_CHAR_DF_CAP,
    )


@register(
    "dedup_simhash_pairs",
    f"""
    WITH sig AS ({_simhash_sql()})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs

    return simhash_pairs(t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@register(
    "similarity_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
    p AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ({_dot_chain('q', 'e')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('e', 'e')})) AS cosine
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM p)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_topk

    e = t(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.filter(F.col("vec_id") < 5), k=10)


def _lsh_oracle_sql() -> str:
    """Generated DuckDB twin of lsh_bucket_pairs: identical ±1 plane
    constants (rademacher_planes), identical left-assoc dot chains, so
    bucket assignment AND verify cosine are bit-exact across engines."""
    from .operators.similarity import rademacher_planes

    planes = rademacher_planes(4, 4, DIM)

    def plane_chain(alias: str, plane: list[float]) -> str:
        return " + ".join(
            f"CAST({alias}.embedding[{i + 1}] AS DOUBLE) * {plane[i]:.1f}"
            for i in range(DIM)
        )

    def bucket_expr(alias: str, tp: list[list[float]]) -> str:
        return " + ".join(
            f"(CASE WHEN ({plane_chain(alias, plane)}) >= 0 THEN {1 << k} ELSE 0 END)"
            for k, plane in enumerate(tp)
        )

    banded = "\n        UNION ALL\n".join(
        f"        SELECT vec_id AS vid, {ti} AS tbl, ({bucket_expr('e', tp)}) AS bucket FROM embeddings e"
        for ti, tp in enumerate(planes)
    )
    return f"""
    WITH banded AS (
{banded}
    ),
    cand AS (
        SELECT DISTINCT a.vid AS d1, b.vid AS d2
        FROM banded a JOIN banded b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vid < b.vid
    )
    SELECT d1, d2,
           ({_dot_chain('ea', 'eb')})
           / (sqrt({_dot_chain('ea', 'ea')}) * sqrt({_dot_chain('eb', 'eb')})) AS cosine
    FROM cand
    JOIN embeddings ea ON ea.vec_id = d1
    JOIN embeddings eb ON eb.vec_id = d2
    WHERE ({_dot_chain('ea', 'eb')})
          / (sqrt({_dot_chain('ea', 'ea')}) * sqrt({_dot_chain('eb', 'eb')})) >= 4e-1
    """


@register("similarity_lsh_pairs", _lsh_oracle_sql())
def similarity_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-random-projection LSH near-neighbor pairs with exact
    cosine verification — the hashing ANN scale path, exactly oracle-
    checkable (unlike IVF) because the deterministic Rademacher planes are
    embedded as identical constants in both engines."""
    from .operators.similarity import lsh_bucket_pairs, rademacher_planes

    e = t(spark, sf_dir, "embeddings")
    return lsh_bucket_pairs(e, rademacher_planes(4, 4, DIM), threshold=0.4)


def _ivf_oracle_sql(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """DuckDB twin of the FULL IVF pipeline at the production nprobe:
    centroid table (first n_centroids by id), corpus argmax assignment,
    per-query probe routing, candidate search, final top-k — every
    cosine the bit-exact 64-term fold, every argmax tie-broken on id.
    The operator is approximate BY ALGORITHM (nprobe < n_centroids drops
    recall), but its output on a fixed corpus is fully deterministic, so
    the pruned search itself gets a hash-exact gate (the ann_pq
    precedent: approximation in the algorithm, not in any engine
    nondeterminism)."""
    def cos(a: str, b: str) -> str:
        return (f"({_dot_chain(a, b)}) / "
                f"(sqrt({_dot_chain(a, a)}) * sqrt({_dot_chain(b, b)}))")

    return f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding
               FROM embeddings ORDER BY vec_id LIMIT {n_centroids}),
    q AS (SELECT vec_id AS query_id, embedding
          FROM embeddings WHERE vec_id < 5),
    asg AS (
        SELECT vec_id, embedding, centroid_id AS cluster_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos('e', 'c')} DESC, c.centroid_id) AS rn
            FROM embeddings e, c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, centroid_id AS cluster_id FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos('q', 'c')} DESC, c.centroid_id) AS rn
            FROM q, c
        ) WHERE rn <= {nprobe}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, {cos('q', 'a')} AS cosine
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


@register("similarity_ann_ivf", _ivf_oracle_sql())
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at the production nprobe=4.  Was rows-only through r4
    session 1 ("approximate by construction"); now EXACT — on a fixed
    corpus the pruned search is fully deterministic, and the oracle
    replicates assignment, probe routing, and candidate top-k CTE by
    CTE (see _ivf_oracle_sql).  similarity_ann_recall still reports the
    recall the pruning trades away; similarity_ann_ivf_fullprobe still
    proves the machinery exact at nprobe=n_centroids."""
    from .operators.similarity import ann_ivf

    e = t(spark, sf_dir, "embeddings")
    return ann_ivf(e, e.filter(F.col("vec_id") < 5), k=10)


def _pq_oracle_sql(m: int = 8, n_codes: int = 16, k: int = 10) -> str:
    """DuckDB twin of ann_pq: same codebook (first n_codes corpus vectors),
    same per-subspace argmin with ties to the lowest code id, same
    left-assoc squared-distance folds — the quantized result is exact, so
    an APPROXIMATE operator gets a hash-exact gate (the approximation is in
    the algorithm, not in any engine nondeterminism)."""
    from .operators.similarity import _pq_sq_chain

    dsub = DIM // m

    def chain(a: str, b: str, j: int) -> str:
        return _pq_sq_chain(lambda i: f"{a}.embedding[{i}]",
                            lambda i: f"{b}.embedding[{i}]", j, dsub)

    dcols = ",\n               ".join(
        f"({chain('e', 'c', j)}) AS d{j}" for j in range(m))
    lng = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, code_id, {j} AS j, d{j} AS d FROM pairs"
        for j in range(m))
    enc_cols = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN code_id END) AS c{j}" for j in range(m))
    cb_joins = "\n        ".join(
        f"JOIN cb cb{j} ON cb{j}.code_id = enc.c{j}" for j in range(m))
    adc = " + ".join(f"({chain('q', f'cb{j}', j)})" for j in range(m))
    return f"""
    WITH cb AS (SELECT vec_id AS code_id, embedding FROM embeddings WHERE vec_id < {n_codes}),
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
    pairs AS (
        SELECT e.vec_id, c.code_id,
               {dcols}
        FROM embeddings e, cb c
    ),
    lng AS (
{lng}
    ),
    win AS (
        SELECT vec_id, j, code_id, ROW_NUMBER() OVER (
            PARTITION BY vec_id, j ORDER BY d, code_id) AS rn
        FROM lng
    ),
    enc AS (SELECT vec_id, {enc_cols} FROM win WHERE rn = 1 GROUP BY vec_id),
    scored AS (
        SELECT q.query_id, enc.vec_id AS neighbor_id, {adc} AS adc
        FROM q JOIN enc ON enc.vec_id != q.query_id
        {cb_joins}
    )
    SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register("similarity_ann_pq", _pq_oracle_sql())
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC top-k) — the compression-based scale
    path next to clustering (ann_ivf) and hashing (lsh): the corpus is
    stored as m=8 byte-ish codes, queries score against reconstructed
    codewords only. Deterministic by construction, so unlike IVF recall
    this approximate operator hash-matches an exact DuckDB twin of the
    whole quantize->encode->ADC pipeline."""
    from .operators.similarity import ann_pq

    e = t(spark, sf_dir, "embeddings")
    return ann_pq(e, e.filter(F.col("vec_id") < 5), k=10, m=8, n_codes=16)


def _ann_recall_oracle_sql(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """DuckDB twin of the FULL IVF pipeline at the production nprobe, plus
    the brute-force reference, joined into per-query recall@k.

    Every stage mirrors the Spark operator bit-for-bit: centroids are the
    first ``n_centroids`` corpus vectors by id (ids are dense from 0, so a
    WHERE suffices), assignment / probe ranking break cosine ties on
    centroid_id ASC exactly like assign_clusters / ann_ivf, and all
    cosines are the shared left-assoc 64-term double chains — so the hits
    count is a deterministic integer, not a tolerance check.
    """
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {n_centroids}),
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
    assigned AS (SELECT vec_id, centroid_id AS cluster_id FROM asg WHERE rn = 1),
    pr AS (
        SELECT query_id, centroid_id, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY csim DESC, centroid_id) AS rn
        FROM (
            SELECT q.query_id, c.centroid_id,
                   ({_dot_chain('q', 'c')})
                   / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('c', 'c')})) AS csim
            FROM q, cent c
        )
    ),
    probes AS (SELECT query_id, centroid_id AS cluster_id FROM pr WHERE rn <= {nprobe}),
    ivf_scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ({_dot_chain('q', 'e')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('e', 'e')})) AS cosine
        FROM probes p
        JOIN assigned a ON a.cluster_id = p.cluster_id AND a.vec_id != p.query_id
        JOIN q ON q.query_id = p.query_id
        JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    ivf_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM ivf_scored
        ) WHERE rank <= {k}
    ),
    exact_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ({_dot_chain('q', 'e')})
               / (sqrt({_dot_chain('q', 'q')}) * sqrt({_dot_chain('e', 'e')})) AS cosine
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id
    ),
    exact_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM exact_scored
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


@register("similarity_ann_recall", _ann_recall_oracle_sql())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF at the PRODUCTION nprobe=4, measured against the
    brute-force reference inside one plan and pinned by an exact oracle —
    the numeric quality gate the rows-only `similarity_ann_ivf` lacks.
    hits/k per query is a deterministic integer on the fixed corpus: both
    engines rank with bit-identical fold-order cosines, so any recall
    drift (routing bug, candidate loss, tie-break change) hash-fails."""
    from .operators.similarity import ann_ivf, cosine_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ivf = ann_ivf(e, q, k=10, n_centroids=16, nprobe=4)
    exact = cosine_topk(e, q, k=10)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("hits"))
    )
    return hits.select("query_id", "hits", F.lit(10).cast("long").alias("k"))


@register("similarity_ann_ivf_fullprobe", ORACLES["similarity_topk"])
def similarity_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF machinery proven EXACT: with nprobe = n_centroids every
    query probes every cluster, the candidate set is the whole corpus
    (each vector sits in exactly one cluster), and the result must equal
    brute-force top-k — so this gate shares similarity_topk's oracle.
    A hash mismatch here would mean the IVF pipeline (centroid
    assignment, probe routing, per-cluster search, merge/rank) loses or
    mis-scores a neighbor. The production nprobe < n_centroids setting
    trades exactly the recall this gate pins down; since r4 session 2
    `similarity_ann_ivf` is itself EXACT (full-pipeline oracle), so the
    pruned path carries hash evidence of its own."""
    from .operators.similarity import ann_ivf

    e = t(spark, sf_dir, "embeddings")
    return ann_ivf(
        e, e.filter(F.col("vec_id") < 5), k=10, n_centroids=16, nprobe=16
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "text_profile",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stopwords,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
           CAST(len(list_filter(string_split(text, ' '),
               w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_word_len,
           (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text)) * 4e-1
           + (CAST(len(list_filter(string_split(text, ' '),
               w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
               / len(string_split(text, ' '))) * 3e-1
           + least(1e0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50) * 3e-1
               AS quality_score
    FROM documents
    """,
)
def text_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import text_profile

    return text_profile(t(spark, sf_dir, "documents"))


@register(
    "token_entropy",
    """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS l,
               list_sort(list_distinct(string_split(text, ' '))) AS dl
        FROM documents
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           CAST(len(dl) AS BIGINT) AS n_distinct,
           printf('%.6e', -list_aggregate(
               list_transform(dl, t ->
                   (CAST(len(list_filter(l, x -> x = t)) AS DOUBLE) / len(l))
                   * ln(CAST(len(list_filter(l, x -> x = t)) AS DOUBLE) / len(l))),
               'sum')) AS entropy,
           CAST(len(dl) AS DOUBLE) / len(l) AS diversity
    FROM d
    """,
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon token entropy + diversity (the repetition/boiler-
    plate signal in LLM curation). In-row column expressions only — see
    operators/textstats.token_entropy. Both engines fold -Σ p·ln p over
    the SAME sorted distinct-token order; ln() may differ by 1 ulp between
    libms, hence %.6e emission.

    Formatting is JVM `format_string`, NOT the pandas `fmt` UDF, twice
    deliberately: (a) the policy's HALF_UP-vs-half-even divergence needs
    an exact decimal tie, which ln-sum irrationals don't produce (unlike
    2-decimal money data); (b) Catalyst collapses the huge fold expression
    into the UDF's input projection, and if whole-stage codegen falls back
    the interpreted projection cannot evaluate a PythonUDF (internal
    error, session-state-dependent). All-JVM keeps this gate codegen-safe
    at any expression size."""
    from .operators.textstats import token_entropy

    out = token_entropy(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", "n_distinct",
        F.format_string("%.6e", F.col("entropy")).alias("entropy"),
        "diversity",
    )


# lang_id oracle fragments — ONE definition of the marker counts and the
# priority CASE, shared with the confusion-matrix gate (registry_llm6) so
# a marker or tie-break change cannot silently desynchronize the two
_LANG_COUNTS_CTE = """
    c AS (
        SELECT doc_id,
               CAST((length(' ' || text || ' ')
                     - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS n_en,
               CAST((length(' ' || text || ' ')
                     - length(replace(' ' || text || ' ', ' der ', ''))) / 5 AS BIGINT) AS n_de,
               CAST((length(' ' || text || ' ')
                     - length(replace(' ' || text || ' ', ' le ', ''))) / 4 AS BIGINT) AS n_fr,
               CAST((length(' ' || text || ' ')
                     - length(replace(' ' || text || ' ', ' el ', ''))) / 4 AS BIGINT) AS n_es
        FROM documents
    )
"""

_LANG_PRED_CASE = """CASE WHEN n_en >= greatest(n_de, n_fr, n_es) AND n_en > 0 THEN 'en'
                WHEN n_de >= greatest(n_fr, n_es) AND n_de > 0 THEN 'de'
                WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
                WHEN n_es > 0 THEN 'es'
                ELSE 'unknown' END"""


@register(
    "lang_id",
    f"""
    WITH {_LANG_COUNTS_CTE}
    SELECT doc_id, n_en, n_de, n_fr, n_es,
           {_LANG_PRED_CASE} AS lang_pred
    FROM c
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import lang_id

    return lang_id(t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[ ]+', ' ', 'g'))) AS fingerprint,
           substr(md5(lower(regexp_replace(text, '[ ]+', ' ', 'g'))), 1, 8) AS fp_prefix
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import fingerprints

    return fingerprints(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS content_md5,
           'text/plain' AS mime
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import attach_binary

    return attach_binary(t(spark, sf_dir, "documents")).drop("content")


@register(
    "multimodal_decode_fake",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           octet_length(encode(text)) % 640 + 64 AS width,
           octet_length(encode(text)) % 480 + 48 AS height,
           CAST(3 AS BIGINT) AS n_channels,
           ascii(substr(text, 1, 1)) / 2.55e2 AS mean_intensity
    FROM documents
    """,
)
def multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import attach_binary, decode_features

    media = attach_binary(t(spark, sf_dir, "documents"))
    return decode_features(media, fake=True)


@register(
    "multimodal_decode_real",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
           doc_id % 1920 + 16 AS width,
           doc_id % 1080 + 16 AS height
    FROM documents
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header decode, oracle-gated end-to-end: per document build an
    actual PNG (signature + IHDR) or JPEG (SOI + APP0/JFIF + COM + SOF0)
    byte stream whose dimensions derive from doc_id, then recover width and
    height by parsing those bytes (fixed-offset IHDR read / marker-segment
    walk via an aggregate fold — operators/multimodal.py). The oracle
    computes the expected dimensions arithmetically, so a parser regression
    breaks the hash. Pure column ops on both build and parse sides."""
    from .operators.multimodal import decode_image_dimensions

    docs = t(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 1920 + 16).cast("long")
    h = (F.col("doc_id") % 1080 + 16).cast("long")
    png_hex = F.concat(
        # signature, IHDR length (13), "IHDR"
        F.lit("89504E470D0A1A0A0000000D49484452"),
        F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0"),
        F.lit("080600000000000000"),  # bit depth, color type, crc filler
    )
    jpeg_hex = F.concat(
        F.lit("FFD8"                                  # SOI
              "FFE000104A46494600010100004800480000"  # APP0/JFIF, len 16
              "FFFE0008616263646566"                  # COM, len 8
              "FFC0001108"),                          # SOF0, len 17, 8-bit
        F.lpad(F.hex(h), 4, "0"), F.lpad(F.hex(w), 4, "0"),
        F.lit("03012200021101031101"                  # 3 components
              "FFD9"),                                # EOI
    )
    media = docs.select(
        "doc_id",
        F.unhex(
            F.when(F.col("doc_id") % 2 == 0, png_hex).otherwise(jpeg_hex)
        ).alias("content"),
    )
    return decode_image_dimensions(media)


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           unnest(range(0, greatest(1, octet_length(encode(text)) // 100))) AS frame_idx,
           unnest(range(0, greatest(1, octet_length(encode(text)) // 100))) * 100 AS byte_offset
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import attach_binary, sample_frames

    media = attach_binary(t(spark, sf_dir, "documents"))
    return sample_frames(media.drop("content"))


__all__ = ["QUERIES", "ORACLES"]


# ---------------------------------------------------------------------------
# scale-path variants: same results via 100TB-shaped plans (SCALE.md)
# ---------------------------------------------------------------------------

@register(
    "rolling_p90_partitioned",
    """
    SELECT o_orderkey,
           printf('%.6e', quantile_cont(o_totalprice, 0.9) OVER (
               PARTITION BY o_orderkey // 1000
               ORDER BY o_orderkey ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
           )) AS p90
    FROM orders
    """,
)
def rolling_p90_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1's scale variant: windows reset per 1000-key block -> parallel
    tasks instead of one global sort (SCALE.md §Windows)."""
    from .operators.scale import partitioned_rolling_percentile
    from .registry import fmt

    o = t(spark, sf_dir, "orders")
    out = partitioned_rolling_percentile(
        o, (F.col("o_orderkey") / 1000).cast("long"), ["o_orderkey"],
        "o_totalprice", 0.9, 100, out="p90_raw",
    )
    return out.selectExpr("o_orderkey", "p90_raw AS p90").withColumn("p90", fmt("p90"))


@register(
    "salted_group_sum",
    """
    SELECT l_returnflag, SUM(l_quantity) AS sum_qty, CAST(SUM(1) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
    """,
)
def salted_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: identical result to the plain
    groupBy oracle (sums of integral doubles are order-exact), but the
    first shuffle spreads each key over 16 salt buckets."""
    from .operators.scale import salted_group_agg

    li = t(spark, sf_dir, "lineitem")
    return salted_group_agg(
        li, ["l_returnflag"],
        {"sum_qty": F.sum("l_quantity"), "n": F.count("*")},
        salt_col=F.col("l_orderkey"), salt_buckets=16,
    )


@register(
    "salted_join_brand_qty",
    """
    SELECT p.p_brand, SUM(l.l_quantity) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def salted_join_brand_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join: identical result to the plain join oracle, but
    the big side carries a deterministic 16-way salt and the small side is
    replicated per salt value, so a hot l_partkey spreads over 16 tasks
    instead of stalling one (operators/scale.salted_join)."""
    from .operators.scale import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    pa = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, pa, ["l_partkey"], salt_source=F.col("l_orderkey"))
    return joined.groupBy("p_brand").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").cast("long").alias("n"),
    )


@register("transfer_volume_hourly_approx")  # HLL sketch: rows-only by design
def transfer_volume_hourly_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's streaming/scale variant: approx_count_distinct (HLL) replaces
    the exact distinct expansion — the form the watermarked streaming agg
    uses, exposed in batch for the scale path."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("transfer_count"),
            F.approx_count_distinct("user_id").alias("approx_unique_users"),
        )
    )


@register(
    "transfer_volume_hourly_approx_check",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           event_type,
           COUNT(*) AS transfer_count,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_unique_users,
           TRUE AS within_tol
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY 1, 2
    """,
)
def transfer_volume_hourly_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric quality gate for the HLL sketch in
    `transfer_volume_hourly_approx` (which is rows-only by design — a
    sketch value can never hash-match an exact engine). Here the SAME plan
    computes exact and approx distincts side by side and emits a
    deterministic boolean: |approx - exact| <= max(5, 0.25 * exact) per
    group. The oracle computes the exact counts and asserts the boolean
    TRUE everywhere, so any HLL regression past the bound hash-fails. The
    bound is wide enough for the small per-hour cardinalities in the
    driver tables (measured worst case: abs err 4 at exact 24 at sf0.1 —
    default-rsd HLL overshoots its nominal 5%% on tiny cardinalities) yet tight enough that a
    broken sketch — wrong column, collapsed groups, double counting —
    trips it."""
    ev = t(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("transfer_count"),
            F.countDistinct("user_id").cast("long").alias("exact_unique_users"),
            F.approx_count_distinct("user_id").alias("approx_u"),
        )
    )
    tol = F.greatest(F.lit(5.0), F.lit(0.25) * F.col("exact_unique_users"))
    return g.select(
        "hour_bucket", "event_type", "transfer_count", "exact_unique_users",
        (F.abs(F.col("approx_u") - F.col("exact_unique_users")) <= tol).alias("within_tol"),
    )


@register(
    "hourly_daily_rollup",
    """
    SELECT COALESCE(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL') AS hour_bucket,
           COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day_bucket,
           COUNT(*) AS n,
           printf('%.6e', SUM(value)) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY GROUPING SETS (
        (date_trunc('hour', ts), date_trunc('day', ts)),
        (date_trunc('day', ts)),
        ()
    )
    """,
)
def hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup (beyond the reference surface): one
    GROUPING SETS pass produces hour, day, and grand-total aggregates —
    Catalyst's Expand handles it in a single shuffle instead of three."""
    from .registry import fmt

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ev.createOrReplaceTempView("_ev_rollup")
    out = spark.sql("""
        SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
               COUNT(*) AS n, SUM(value) AS total_value
        FROM _ev_rollup
        GROUP BY GROUPING SETS (
            (date_trunc('hour', ts), date_trunc('day', ts)),
            (date_trunc('day', ts)),
            ()
        )
    """)
    return out.select(
        F.coalesce(F.date_format("h", "yyyy-MM-dd HH:mm:ss"), F.lit("ALL")).alias("hour_bucket"),
        F.coalesce(F.date_format("d", "yyyy-MM-dd"), F.lit("ALL")).alias("day_bucket"),
        "n", fmt("total_value"),
    )


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ({_dot_chain('a', 'b')})
           / (sqrt({_dot_chain('a', 'a')}) * sqrt({_dot_chain('b', 'b')})) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ({_dot_chain('a', 'b')})
          / (sqrt({_dot_chain('a', 'a')}) * sqrt({_dot_chain('b', 'b')})) >= 4e-1
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: cosine >= 0.4 over all pairs.

    The bit-exact fold-order dot product (see similarity_topk) makes the
    threshold filter deterministic across engines. Brute-force all-pairs is
    the oracle shape; the 100 TB path reuses the IVF cluster assignment as
    the blocking key (pairs within a cluster + neighboring probes).
    """
    from .operators.similarity import dot, with_norm

    e = t(spark, sf_dir, "embeddings")
    a = with_norm(e.select(F.col("vec_id").alias("d1"),
                           F.col("embedding").alias("ea")), "ea", "na")
    b = with_norm(e.select(F.col("vec_id").alias("d2"),
                           F.col("embedding").alias("eb")), "eb", "nb")
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    cos = (dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine")
    return pairs.select("d1", "d2", cos).filter(F.col("cosine") >= 4e-1)


# dedup_embedding_cosine_blocked (label-blocked pairs) was RETIRED in r5:
# label blocking was coarse (~20M candidates / 193 s at sf1 in r3) and the
# trained multi-probe cluster blocking (semdedup_pairs_probed) had already
# replaced it as the documented production path. Its successor is
# registry_llm3.dedup_embedding_canonical — the same probed cluster
# blocking carried through connected components to a per-vector
# keep/canonical verdict, i.e. the operator a curation pipeline actually
# consumes.
