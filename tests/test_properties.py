"""Hypothesis property tests over the engine's scalar kernels.

These run the *driver-side* pure functions (keccak, checksum) under
hypothesis directly, and spot-check the Spark columnar equivalents on the
generated corpus in a single batched action (one Spark job per property,
not one per example).
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from defi_etl_platform_sqlglot_implementation__spark.functions.keccak import (
    keccak_256,
    to_checksum_address,
)

hex_chars = st.text(alphabet="0123456789abcdef", min_size=40, max_size=40)
uint256 = st.integers(min_value=0, max_value=2**256 - 1)


class TestChecksumProperties:
    @given(hex_chars)
    @settings(max_examples=50, deadline=None)
    def test_checksum_is_case_normalizing_and_idempotent(self, addr40):
        a = to_checksum_address("0x" + addr40)
        assert a.lower() == "0x" + addr40
        assert to_checksum_address(a) == a  # idempotent
        assert to_checksum_address("0x" + addr40.upper().lower()) == a

    @given(st.binary(min_size=0, max_size=300))
    @settings(max_examples=50, deadline=None)
    def test_keccak_is_32_bytes_and_deterministic(self, data):
        d1, d2 = keccak_256(data), keccak_256(data)
        assert len(d1) == 32
        assert d1 == d2


class TestHexDecodeProperties:
    def test_hex_to_double_matches_python_on_corpus(self, spark):
        import random

        from defi_etl_platform_sqlglot_implementation__spark.functions.hex import hex_to_double

        rng = random.Random(42)
        values = [rng.getrandbits(rng.randrange(1, 257)) for _ in range(500)]
        df = spark.createDataFrame([(hex(v),) for v in values], ["h"])
        got = [r[0] for r in df.select(hex_to_double("h")).collect()]
        want = [float(v) for v in values]
        assert got == want  # exact: correctly-rounded int->float64

    def test_swap_price_matches_python_semantics(self, spark):
        import random

        from defi_etl_platform_sqlglot_implementation__spark.operators.swaps import swap_price

        rng = random.Random(7)
        rows = []
        for _ in range(300):
            a0i, a1i, a0o, a1o = (float(rng.choice([0, rng.randrange(1, 10**6)]))
                                  for _ in range(4))
            if a0i == 0 and a1i == 0:
                continue  # dropped by the operator (reference raises)
            rows.append((a0i, a1i, a0o, a1o))
        df = spark.createDataFrame(rows, ["a0i", "a1i", "a0o", "a1o"])
        got = df.select(
            swap_price("a0i", "a1i", "a0o", "a1o").alias("p"),
            "a0i", "a1i", "a0o", "a1o",
        ).collect()
        for r in got:
            want = (r["a1o"] / r["a0i"]) if r["a0i"] else ((r["a0o"] / r["a1i"]) or 1)
            assert r["p"] == want or (math.isnan(r["p"]) and math.isnan(want))

    def test_il_monotone_in_abs_log_ratio(self, spark):
        from defi_etl_platform_sqlglot_implementation__spark.operators.risk import il_scan

        ratios = [0.1, 0.25, 0.5, 0.9, 1.0, 1.2, 2.0, 4.0, 9.0]
        rows = {r["price_ratio"]: r["il_pct"]
                for r in il_scan(spark, ratios=ratios).collect()}
        # il_pct <= 0 always, == 0 only at ratio 1, decreasing in |log r|
        assert all(v <= 1e-9 for v in rows.values())
        ordered = sorted(rows, key=lambda x: abs(math.log(x)))
        ils = [rows[r] for r in ordered]
        assert all(ils[i] >= ils[i + 1] - 1e-9 for i in range(len(ils) - 1))


class TestJpegWalkerProperties:
    """Property test: the column-expression JPEG segment walk agrees with a
    straightforward Python reference parser on randomized segment layouts."""

    @staticmethod
    def _py_jpeg_dims(b: bytes):
        # reference implementation: walk marker segments like any image lib
        SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        if len(b) < 2 or b[0:2] != b"\xff\xd8":
            return None, None
        pos = 2
        for _ in range(64):
            if pos + 4 > len(b) or b[pos] != 0xFF:
                return None, None
            marker = b[pos + 1]
            if marker in (0xDA, 0xD9):
                return None, None
            seg_len = int.from_bytes(b[pos + 2:pos + 4], "big")
            if marker in SOF:
                if pos + 9 > len(b):
                    return None, None
                h = int.from_bytes(b[pos + 5:pos + 7], "big")
                w = int.from_bytes(b[pos + 7:pos + 9], "big")
                return (w or None), (h or None)
            pos += 2 + seg_len
        return None, None

    @given(
        st.lists(  # filler segments: (marker, payload length)
            st.tuples(st.sampled_from([0xE0, 0xE1, 0xFE, 0xDB, 0xC4]),
                      st.integers(min_value=0, max_value=40)),
            min_size=0, max_size=8,
        ),
        st.integers(min_value=1, max_value=65535),   # width
        st.integers(min_value=1, max_value=65535),   # height
        st.sampled_from([0xC0, 0xC2, None]),          # SOF kind; None = no SOF
        st.booleans(),                                # truncate mid-stream
    )
    @settings(max_examples=25, deadline=None)
    def test_matches_reference_parser(self, spark, fillers, w, h, sof, truncate):
        import struct

        from defi_etl_platform_sqlglot_implementation__spark.operators.multimodal import (
            decode_image_dimensions,
        )

        b = b"\xff\xd8"
        for marker, n in fillers:
            b += bytes([0xFF, marker]) + struct.pack(">H", n + 2) + b"\x00" * n
        if sof is not None:
            b += (bytes([0xFF, sof]) + struct.pack(">H", 17) + b"\x08"
                  + struct.pack(">HH", h, w)
                  + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
        b += b"\xff\xd9"
        if truncate:
            b = b[: max(2, len(b) * 2 // 3)]

        exp_w, exp_h = self._py_jpeg_dims(b)
        media = spark.createDataFrame(
            [(0, bytearray(b))], "doc_id long, content binary"
        )
        row = decode_image_dimensions(media).collect()[0]
        assert row["kind"] == "jpeg"
        assert (row["width"], row["height"]) == (exp_w, exp_h), \
            f"bytes={b.hex()}"


class TestQualityRuleProperties:
    """Wave-5 gopher rules vs a pure-Python reimplementation on random
    word soups — one batched Spark action over the generated corpus."""

    def test_gopher_flags_match_python_on_random_corpus(self, spark):
        import random

        from defi_etl_platform_sqlglot_implementation__spark.registry_llm5 import (
            gopher_quality_flags,
        )

        rng = random.Random(7)
        vocab = ["the", "a", "spark", "table", "x", "zzzzzzzzzzzz",
                 "merge", "q", "windowless", "bb"]
        texts = [
            " ".join(rng.choice(vocab)
                     for _ in range(rng.randrange(1, 80)))
            # every third doc gets a doubled space: empty split tokens
            # must NOT count as words (review regression pin)
            + ("  tail" if i % 3 == 0 else "")
            for i in range(200)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        df.write.mode("overwrite").parquet("/tmp/gopher_prop/documents.parquet")
        rows = {r.doc_id: r for r in
                gopher_quality_flags(spark, "/tmp/gopher_prop").collect()}

        from collections import Counter

        for i, text in enumerate(texts):
            toks = [w for w in text.split(" ") if w]
            c = Counter(toks)
            n, nd = len(toks), len(c)
            nchars, top = sum(map(len, toks)), max(c.values())
            stop = c["the"] + c["a"]
            r = rows[i]
            assert r.n_words == n and r.stop_hits == stop
            assert r.mean_wlen_centi == (nchars * 100) // n
            keep = (30 <= n <= 2500
                    and 300 <= (nchars * 100) // n <= 1000
                    and nd * 5 > n and top * 100 < n * 15 and stop >= 2)
            assert r.keep == int(keep), (i, text)

    def test_containment_is_one_for_shingle_subsets(self, spark):
        from defi_etl_platform_sqlglot_implementation__spark.operators.dedup import (
            _pair_jaccard,
            shingle_table,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(0, base), (1, base + " iota kappa lambda mu nu xi")],
            "doc_id long, text string")
        j = _pair_jaccard(shingle_table(docs)).collect()
        assert len(j) == 1
        r = j[0]
        # doc 0's shingles all appear in doc 1 -> containment(0 in 1) = 1
        assert r.inter == r.n1
        assert r.inter < r.n2


class TestPackingProperties:
    def test_packing_and_budget_match_python_on_adversarial_corpus(
            self, spark, tmp_path):
        """sequence_packing / tokens_per_source_budget vs a pure-Python
        replay on a seeded random corpus stacked with tokenizer edges:
        empty docs, runs of spaces, single words, long docs straddling
        several 128-token windows."""
        import random

        import defi_etl_platform_sqlglot_implementation__spark.registry_llm6 as m6

        rng = random.Random(99)
        words = ["a", "bb", "ccc", "scan", "merge"]
        rows = []
        for doc_id in range(120):
            kind = rng.randrange(5)
            if kind == 0:
                text = ""
            elif kind == 1:
                text = " " * rng.randrange(1, 4)
            elif kind == 2:
                text = rng.choice(words)
            else:
                n = rng.randrange(1, 400)
                sep = lambda: " " * rng.randrange(1, 3)  # noqa: E731
                text = sep().join(rng.choice(words) for _ in range(n))
            rows.append((doc_id, text, f"src{doc_id % 3}"))
        spark.createDataFrame(rows, "doc_id long, text string, source string") \
            .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

        def ntok(text):
            return len([t for t in text.split(" ") if t])

        # pure-Python packing replay
        packed = {}
        budget = {}
        by_src = {}
        for doc_id, text, src in rows:
            by_src.setdefault(src, []).append((doc_id, ntok(text)))
        for src, docs in by_src.items():
            cum = kept_docs = kept_toks = 0
            for doc_id, n in sorted(docs):
                first = cum // m6._SEQ_LEN
                last = first if n == 0 else (cum + n - 1) // m6._SEQ_LEN
                packed[doc_id] = (src, n, cum, first, last)
                cum += n
                if cum <= m6._SRC_BUDGET:
                    kept_docs += 1
                    kept_toks += n
            budget[src] = (len(docs), kept_docs, kept_toks,
                           sum(n for _, n in docs))

        got = {r.doc_id: (r.source, r.n_tokens, r.tok_start, r.first_seq,
                          r.last_seq)
               for r in m6.sequence_packing(spark, str(tmp_path)).collect()}
        assert got == packed
        got_b = {r.source: (r.n_docs, r.kept_docs, r.kept_tokens,
                            r.total_tokens)
                 for r in m6.tokens_per_source_budget(
                     spark, str(tmp_path)).collect()}
        assert got_b == budget
