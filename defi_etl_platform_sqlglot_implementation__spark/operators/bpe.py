"""Distributed BPE (byte-pair encoding) merge training — the tokenizer-
construction step of an LLM data pipeline (Sennrich et al. 2016; the
algorithm behind GPT-2/RoBERTa vocabularies).

Scale shape (the kmeans contract from operators/similarity.py): corpus
text is reduced ONCE to a word-frequency table (one shuffle,
vocab-cardinality — Zipf makes this tiny relative to the corpus), and
each merge iteration is

  1. adjacent-pair counts over the symbol sequences, weighted by word
     frequency — explode + groupBy, partial-aggregated map-side;
  2. a driver-side argmax of ONE row (count desc, pair asc tie-break —
     deterministic on any engine/partitioning);
  3. a row-local fold that rewrites every sequence, merging the chosen
     pair greedily left-to-right (whole-stage codegen ``aggregate``
     lambda — no Python in the loop).

Driver state is one (pair, count) row per iteration; the corpus never
collects. n_merges iterations = n_merges bounded shuffles over the WORD
table, not the corpus — exactly how a 100 TB tokenizer build runs (count
words once, train on the frequency table).

Evidence: tests/test_bpe.py trains against a pure-Python reference
implementation on the same corpus and requires the identical merge
sequence, vocabulary, and final segmentations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import lazy_persist


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the only corpus-wide reduction."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_sequences(words: DataFrame) -> DataFrame:
    """word -> array of single-character symbols (+ </w> end marker, the
    standard device so merges cannot cross word boundaries)."""
    return words.withColumn(
        "seq",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>"))),
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    # guard single-symbol sequences: sequence(1, 0) is DESCENDING in
    # Spark, which would index past the array under ANSI mode
    pairs = seqs.filter(F.size("seq") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(seq) - 1),"
                " i -> struct(element_at(seq, i) AS a,"
                "             element_at(seq, i + 1) AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("n")
    )


def _merge_expr(a: str, b: str) -> str:
    """Codegen fold that merges adjacent (a, b) greedily left-to-right.
    Backslashes must escape BEFORE quotes — a learned symbol containing
    '\\' would otherwise swallow the literal's closing quote and kill the
    whole training job with a ParseException."""
    def q(sym: str) -> str:
        return sym.replace("\\", "\\\\").replace("'", "\\'")

    qa, qb = q(a), q(b)
    return (
        "aggregate(seq, array(cast(null as string)), (acc, x) -> "
        f"CASE WHEN size(acc) > 1 AND element_at(acc, -1) = '{qa}' "
        f"          AND x = '{qb}' "
        f"     THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        "     ELSE concat(acc, array(x)) END, "
        "acc -> slice(acc, 2, size(acc) - 1))"
    )


def train_bpe(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list [(left, right, weighted_count)] and the final
    (word, freq, seq) frame with merged symbol sequences.

    The greedy left-to-right merge semantics match the reference BPE:
    on [a, a, a] with merge (a, a), the first pair merges and the third
    symbol survives alone.

    The returned frame is persisted (it is re-hit by any downstream
    aggregation, e.g. vocab extraction) and tracked in the current
    materialization scope, which releases it; every working frame joins
    that scope before a job fills it, so a failed fill pins nothing.
    Symbols are Unicode code points: Spark 4's ``split(word, '')`` splits
    surrogate pairs as single code points, matching the pure-Python
    reference ``list(w)`` — pinned by test_bpe's non-BMP test so an
    engine regression to UTF-16-unit splitting would be caught."""
    seqs = _initial_sequences(word_frequencies(docs, text_col))
    # the word table is small (vocab-cardinality) and hit n_merges times
    seqs = lazy_persist(seqs)
    seqs.count()
    merges: list[tuple[str, str, int]] = []
    # release schedule (r11 opt): each round's pair-count collect is the
    # action that FILLS the current frame's cache (persisted frames cache
    # on first computation), so the per-round eager `nxt.count()` job the
    # build shape paid existed only to let the parent release early —
    # deferring the parent's unpersist until after the next round's
    # collect halves the training loop's job count (2 -> 1 per merge,
    # plus one final fill job).  The merge sequence itself is untouched.
    # The in-loop release bounds a long training loop to two live rounds.
    prev: DataFrame | None = None
    for _ in range(n_merges):
        top = (
            _pair_counts(seqs)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].n)
        merges.append((a, b, cnt))
        nxt = lazy_persist(seqs.withColumn("seq", F.expr(_merge_expr(a, b))))
        prev = seqs
        seqs = nxt
    if prev is not None:
        # the last merge's frame was never read in-loop: fill its cache
        # from the still-cached parent, then release the parent
        seqs.count()
        prev.unpersist()
    return merges, seqs


def encode_words(words: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply a TRAINED merge list to (possibly new) words — the tokenizer
    application step.  Merges are applied sequentially in rank order with
    the same greedy left-to-right codegen fold as training, so every
    training word reproduces its training segmentation exactly, and
    unseen words segment deterministically (unseen characters survive as
    single-char symbols).  Row-local: the fold chain is n_merges nested
    whole-stage-codegen ``aggregate`` lambdas — no shuffle, no Python."""
    seqs = _initial_sequences(words)
    for m in merges:
        seqs = seqs.withColumn("seq", F.expr(_merge_expr(m[0], m[1])))
    return seqs


def duckdb_train_ctes(n_merges: int, corpus_pred: str = "TRUE") -> str:
    """DuckDB CTE chain replicating ``train_bpe`` EXACTLY — the driver
    loop unrolled as ``n_merges`` CTE stages (the kmeans_micro device
    that made trained SemDeDup oracle-checkable).  Every stage holds the
    symbol sequence as a chr(1)-joined string and re-applies the greedy
    left-to-right merge as a ``list_reduce`` string fold whose CASE
    reproduces the Spark ``_merge_expr`` accumulator semantics
    (tail-token equality, merged token becomes the new tail, scan
    resumes after it).  All counts are integers and the argmax tie-break
    (n DESC, a ASC, b ASC) is byte-order on ASCII symbols, so the CTE
    chain lands on the bit-identical merge sequence on any engine.
    When the pair supply runs out before ``n_merges`` (degenerate
    corpora), ``m{{k}}`` is empty — the LEFT JOIN keeps every word with
    its sequence unchanged, matching ``train_bpe``'s early loop break
    (an inner cross join would silently wipe the table instead).

    Exposes CTEs ``w0`` (word, freq), ``s0..s{n}`` (word, freq, s) and
    ``m1..m{n}`` (a, b) for the caller's final SELECT.  Assumes symbols
    never contain chr(1) (true for any corpus without control chars —
    the '</w>' marker included).
    """
    sep = "chr(1)"
    parts = [f"""
    w0 AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents WHERE {corpus_pred})
        WHERE word <> '' GROUP BY 1
    ),
    s0 AS MATERIALIZED (
        SELECT word, freq,
               array_to_string(
                   list_concat(string_split(word, ''), ['</w>']), {sep}) AS s
        FROM w0
    )"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""
    p{k} AS (
        SELECT toks[i] AS a, toks[i + 1] AS b, SUM(freq) AS n
        FROM (SELECT freq, string_split(s, {sep}) AS toks,
                     unnest(range(1, len(string_split(s, {sep})))) AS i
              FROM s{k - 1})
        GROUP BY 1, 2
    ),
    m{k} AS (SELECT a, b FROM p{k} ORDER BY n DESC, a, b LIMIT 1),
    s{k} AS MATERIALIZED (
        SELECT word, freq,
               CASE WHEN m.a IS NULL THEN s ELSE
               list_reduce(string_split(s, {sep}), (acc, x) ->
                   CASE WHEN x = m.b
                             AND (acc = m.a
                                  OR ends_with(acc, {sep} || m.a))
                        THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
                        ELSE acc || {sep} || x END) END AS s
        FROM s{k - 1} LEFT JOIN m{k} m ON TRUE
    )""")
    return ",".join(parts)


def vocab_from_sequences(seqs: DataFrame) -> DataFrame:
    """(symbol, n_words, total_freq) — the learned subword vocabulary."""
    return (
        seqs.select("freq", F.explode("seq").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total_freq"),
        )
    )
