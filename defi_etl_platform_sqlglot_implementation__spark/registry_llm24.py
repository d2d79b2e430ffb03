"""Coverage wave 24 — tokenizer design: the vocabulary pruning curve.

``bpe_vocab_pruning_curve``: how segmentation degrades as the merge
budget shrinks — the tokenizer-sizing knob (vocab size trades against
fertility, i.e. subwords per word, i.e. effective context length).
BPE's greedy training is PREFIX-STABLE (merge i depends only on merges
before i), so "train 6 merges, apply only the first k" is identical to
"train k merges" — one training pass prices every curve point.  Per
k in {2, 4, 6}: corpus word count, total subwords, fertility in bp
(1e4 = one subword per word), and the realized symbol vocabulary over
word TYPES.  Training runs on the 80% partition and encoding covers
every document — the ``bpe_encode_segments`` contract.

Scale: one training loop over the Zipf-bounded word table, then the
row-local merge fold chain applied to the DISTINCT-word table (k
variants share the one persisted table); corpus counts come from one
(word, count) aggregate joined back — the corpus is read once for all
curve points.

Reference scope: composes the reference's aggregation surface
(src/transform/etl_pipeline.py groupbys) with the LLM-pipeline
extension; no counterpart file exists — cited per SURVEY §6 as a scale
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, t

_CURVE_KS = (2, 4, 6)
_N_MERGES = 6


def _curve_sql() -> str:
    from .registry_llm5 import _bpe_seg_ctes

    # _bpe_seg_ctes(6) trains m1..m6 on the 80% partition and builds the
    # CUMULATIVE encodings e0..e6 over the distinct-word table (aw) plus
    # the positional token table (tokpos) — ek IS apply-first-k, by
    # prefix stability.  The curve reuses those CTEs verbatim.
    enc_union = "\n        UNION ALL ".join(
        f"SELECT {k} AS n_merges, word, s FROM e{k}" for k in _CURVE_KS)
    return f"""
    {_bpe_seg_ctes(_N_MERGES)},
    enc_k AS ({enc_union}),
    corpus AS (
        SELECT k.n_merges,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(string_split(k.s, chr(1)))) AS BIGINT)
                   AS n_subwords
        FROM tokpos t JOIN enc_k k USING (word)
        GROUP BY 1
    ),
    vocab AS (
        SELECT n_merges, CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size
        FROM (SELECT n_merges, unnest(string_split(s, chr(1))) AS sym
              FROM enc_k)
        GROUP BY 1
    )
    SELECT c.n_merges, c.n_words, c.n_subwords,
           CAST(round(1e4 * c.n_subwords / c.n_words) AS BIGINT)
               AS fertility_bp,
           v.vocab_size
    FROM corpus c JOIN vocab v USING (n_merges)
    """


@register("bpe_vocab_pruning_curve", _curve_sql())
def bpe_vocab_pruning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning curve — see module docstring.  One
    ``train_bpe`` pass (6 merges, 80% partition); each curve point
    applies the first k merges to the SAME distinct-word table via the
    row-local ``encode_words`` fold (green against the unrolled e{{k}}
    CTEs through the bpe_encode_segments device); corpus totals weight
    each word by its occurrence count (one (word, n_occ) aggregate —
    equal to the oracle's token-position join by construction);
    vocab_size counts realized symbols over word TYPES."""
    from .operators.bpe import train_bpe

    docs = t(spark, sf_dir, "documents")
    merges, _ = train_bpe(
        docs.filter(F.col("doc_id") % 5 != 0), n_merges=_N_MERGES)
    from .operators.bpe import encode_words
    from .operators.materialize import scoped_persist

    wc = scoped_persist(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("n_occ")))
    out = None
    for k in _CURVE_KS:
        enc = encode_words(wc, merges[:k]).select(
            "word", "n_occ", F.size("seq").alias("n_sub"), "seq")
        corpus = enc.agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sub")).cast("long")
            .alias("n_subwords"))
        vocab = (enc.select(F.explode("seq").alias("sym"))
                 .agg(F.countDistinct("sym").cast("long")
                      .alias("vocab_size")))
        row = (corpus.crossJoin(vocab)
               .select(F.lit(k).cast("int").alias("n_merges"),
                       "n_words", "n_subwords",
                       F.round(F.lit(1e4) * F.col("n_subwords")
                               / F.col("n_words")).cast("long")
                       .alias("fertility_bp"),
                       "vocab_size"))
        out = row if out is None else out.unionAll(row)
    return out
