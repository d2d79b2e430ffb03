"""Distributed BPE training (operators/bpe.py) vs a pure-Python reference
implementation of the classic algorithm on the same corpus: the merge
sequence, the learned vocabulary, and every word's final segmentation
must be identical."""

from __future__ import annotations

from collections import Counter

import pytest

from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import (
    train_bpe,
    vocab_from_sequences,
    word_frequencies,
)
from defi_etl_platform_sqlglot_implementation__spark.operators.materialize import (
    material_scope,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _scope():
    """train_bpe tracks its working frames in the materialization scope;
    each test releases them on exit, as library callers do."""
    with material_scope():
        yield


def _reference_bpe(word_freq: dict[str, int], n_merges: int):
    """Sennrich-style reference: count pairs weighted by word freq, merge
    the argmax (ties: lexicographic), greedy left-to-right application."""
    seqs = {w: list(w) + ["</w>"] for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, seq in seqs.items():
            f = word_freq[w]
            for x, y in zip(seq, seq[1:]):
                counts[(x, y)] += f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        for w, seq in seqs.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_merge_sequence_vocab_and_segmentations_match_reference(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    wf = {r.word: r.freq for r in word_frequencies(docs).collect()}
    ref_merges, ref_seqs = _reference_bpe(wf, n_merges=6)

    merges, seqs = train_bpe(docs, n_merges=6)
    assert [(a, b, c) for a, b, c in merges] == ref_merges

    got = {r.word: list(r.seq) for r in seqs.collect()}
    assert got == ref_seqs

    vocab = {r.symbol: (r.n_words, r.total_freq)
             for r in vocab_from_sequences(seqs).collect()}
    ref_vocab = Counter()
    ref_freqs = Counter()
    for w, seq in ref_seqs.items():
        for s in seq:
            ref_vocab[s] += 1
            ref_freqs[s] += wf[w]
    assert vocab == {s: (ref_vocab[s], ref_freqs[s]) for s in ref_vocab}


def test_greedy_left_to_right_merge_semantics(spark):
    # [a, a, a, </w>] with merge (a, a): first pair merges, third survives
    docs = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    merges, seqs = train_bpe(docs, n_merges=1)
    assert merges[0][:2] == ("a", "a")
    seq = seqs.collect()[0].seq
    assert list(seq) == ["aa", "a", "</w>"]


def test_merge_stops_when_no_pairs_remain(spark):
    docs = spark.createDataFrame([(0, "x y")], "doc_id long, text string")
    merges, _ = train_bpe(docs, n_merges=50)
    # each word is one char + </w>: exactly one mergeable pair per word,
    # then singleton symbols -> training must stop early, not loop
    assert 0 < len(merges) < 50


def test_non_bmp_symbols_split_as_code_points(spark):
    """Spark 4's split(word, '') is code-point safe (a surrogate pair is
    ONE symbol), matching the pure-Python reference list(w). Pinned so an
    engine regression to UTF-16-unit splitting (which would emit unpaired
    surrogate halves as symbols) is caught here, not in production."""
    from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import (
        _initial_sequences,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(1, "ab \N{GRINNING FACE}\N{GRINNING FACE}c")], ["doc_id", "text"]
    )
    seqs = {r["word"]: list(r["seq"])
            for r in _initial_sequences(word_frequencies(docs)).collect()}
    assert seqs["ab"] == ["a", "b", "</w>"]
    assert seqs["\N{GRINNING FACE}\N{GRINNING FACE}c"] == [
        "\N{GRINNING FACE}", "\N{GRINNING FACE}", "c", "</w>"
    ]  # == list(w) + ['</w>'] in Python terms


def test_encode_words_matches_reference_application(spark):
    """encode_words applied to a word table containing UNSEEN words must
    equal the reference greedy application of the trained merge list."""
    from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import (
        encode_words,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    wf = {r.word: r.freq for r in word_frequencies(docs).collect()}
    merges, _ = train_bpe(docs, n_merges=6)

    # held-out words: some share subword structure, some have unseen chars
    new_words = ["tablet", "scanner", "zzz", "xqj", "merge", "windowless"]
    words = spark.createDataFrame([(w,) for w in new_words], ["word"])
    got = {r.word: list(r.seq) for r in encode_words(words, merges).collect()}

    for w in new_words:
        seq = list(w) + ["</w>"]
        for a, b, _ in merges:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        assert got[w] == seq, w


def test_duckdb_ctes_match_on_exhausted_merge_supply(spark):
    """Degenerate corpus whose pair supply runs out before n_merges: the
    oracle's LEFT JOIN must keep sequences unchanged past exhaustion,
    matching train_bpe's early loop break (an inner cross join against
    the empty merge CTE would wipe the table — regression from review)."""
    import duckdb
    import pandas as pd

    from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import (
        duckdb_train_ctes,
    )

    docs = spark.createDataFrame([(0, "aa aa aa")], "doc_id long, text string")
    merges, seqs = train_bpe(docs, n_merges=6)
    assert len(merges) < 6  # supply genuinely exhausts
    vocab = {(r.symbol, r.n_words, r.total_freq)
             for r in vocab_from_sequences(seqs).collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [0],
                                            "text": ["aa aa aa"]}))
    duck = set(map(tuple, con.sql(f"""
        WITH {duckdb_train_ctes(6)}
        SELECT symbol, CAST(COUNT(*) AS BIGINT), CAST(SUM(freq) AS BIGINT)
        FROM (SELECT freq, unnest(string_split(s, chr(1))) AS symbol
              FROM s6)
        GROUP BY 1""").fetchall()))
    assert duck == vocab


def test_duckdb_train_ctes_fuzz_vs_reference():
    """Hypothesis: random tiny corpora from a 3-letter alphabet (maximal
    merge collisions — overlapping pairs, ties, early exhaustion) must
    produce the identical merge result through the unrolled DuckDB CTE
    chain as the pure-Python reference. No Spark in the loop, so this
    pins the ORACLE construction (string fold semantics, argmax
    tie-break, exhaustion handling) independently."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import (
        duckdb_train_ctes,
    )

    word = st.text(alphabet="abc", min_size=1, max_size=5)

    @settings(max_examples=25, deadline=None)
    @given(words=st.lists(word, min_size=1, max_size=6))
    def run(words):
        text = " ".join(words)
        wf = {}
        for w in words:
            wf[w] = wf.get(w, 0) + 1
        ref_merges, ref_seqs = _reference_bpe(wf, n_merges=4)

        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"doc_id": [0],
                                                "text": [text]}))
        rows = con.sql(f"""
            WITH {duckdb_train_ctes(4)}
            SELECT word, s FROM s4""").fetchall()
        got = {w: s.split("\x01") for w, s in rows}
        assert got == ref_seqs, (text, ref_merges)

    run()
