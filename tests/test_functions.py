"""Scalar-function layer: keccak/EIP-55 vectors, hex decode parity."""

import random

import pytest

from defi_etl_platform_sqlglot_implementation__spark.functions.keccak import (
    ERC20_TRANSFER_TOPIC,
    UNISWAP_V2_SWAP_TOPIC,
    UNISWAP_V3_SWAP_TOPIC,
    keccak_256,
    to_checksum_address,
)
from defi_etl_platform_sqlglot_implementation__spark.functions.hex import (
    hex_to_double,
    hex_to_long,
)
from defi_etl_platform_sqlglot_implementation__spark.functions.maps import (
    TOKEN_STANDARDS,
    token_standards_col,
)


class TestKeccak:
    def test_empty_string_vector(self):
        assert (
            keccak_256(b"").hex()
            == "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
        )

    def test_topic_constants(self):
        # Public, well-known Ethereum event signature hashes
        assert ERC20_TRANSFER_TOPIC == (
            "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
        )
        assert UNISWAP_V2_SWAP_TOPIC == (
            "0xd78ad95fa46c994b6551d0da85fc275fe613ce37657fb8d5e3d130840159d822"
        )
        assert UNISWAP_V3_SWAP_TOPIC.startswith("0x")

    def test_eip55_vectors(self):
        # Test vectors from the EIP-55 specification
        assert (
            to_checksum_address("0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed")
            == "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed"
        )
        assert (
            to_checksum_address("0xdbf03b407c01e7cd3cbea99509d93f8dddc8c6fb")
            == "0xdbF03B407c01E7cD3CBea99509d93f8DDDC8C6FB"
        )

    def test_decode_checksummed_equals_plain_modulo_casing(self, spark):
        # The transfer_decode_roundtrip driver gate runs checksum=False
        # (DuckDB has no keccak — SURVEY §2.10); this pins the excluded
        # half: the checksummed decode differs from the gated lowercase
        # decode ONLY in casing, and that casing is exactly
        # to_checksum_address of the lowercase value.
        from .conftest import events_df, make_transfer_message
        from defi_etl_platform_sqlglot_implementation__spark.operators.transfers import (
            decode_transfers,
        )

        ev = events_df(spark, [
            make_transfer_message(contract=f"0x{'a0b8' * 10}", log_index=i)
            for i in range(3)
        ])
        plain = decode_transfers(ev, checksum=False).orderBy("block_number")
        summed = decode_transfers(ev, checksum=True).orderBy("block_number")
        for rp, rs in zip(plain.collect(), summed.collect()):
            for col in ("from", "to"):
                assert rs[col].lower() == rp[col]
                assert rs[col] == to_checksum_address(rp[col])
            # everything except the two checksummed columns is identical
            assert {k: v for k, v in rp.asDict().items() if k not in ("from", "to")} \
                == {k: v for k, v in rs.asDict().items() if k not in ("from", "to")}


class TestHexDecode:
    def test_hex_to_double_exact(self, spark):
        cases = ["0x8ac7230489e80000", "0x0", "0x", "", None, "ff",
                 "0x" + "f" * 64]  # uint256 max
        df = spark.createDataFrame([(c,) for c in cases], ["h"])
        got = [r[0] for r in df.select(hex_to_double("h")).collect()]
        want = [float(10 * 10**18), 0.0, 0.0, 0.0, 0.0, 255.0, float(2**256 - 1)]
        assert got == want

    def test_hex_to_long(self, spark):
        df = spark.createDataFrame([("0x" + "0" * 63 + "1",), ("0x2a",)], ["h"])
        got = [r[0] for r in df.select(hex_to_long("h")).collect()]
        assert got == [1, 42]

    def test_exact_on_constructed_ties(self, spark):
        """Equals float(int(h, 16)) at 54-256 bits, where rounding to 53
        bits has to look past the top 16 nibbles: exact half-ulp ties
        (round half to even) and the values one either side of them."""
        rng = random.Random(7)
        vals = []
        for _ in range(300):
            shift = rng.randint(1, 203)
            base = (rng.getrandbits(52) | (1 << 52)) << shift
            half = 1 << (shift - 1)
            vals += [base + half, base + half - 1, base + half + 1, base + 1]
        vals += [rng.getrandbits(rng.randint(1, 256)) for _ in range(300)]
        hexes = [hex(v) for v in vals] + ["0x000" + hex(v)[2:].upper() for v in vals[:50]]
        df = spark.createDataFrame([(h,) for h in hexes], ["h"])
        got = [r[0] for r in df.select(hex_to_double("h")).collect()]
        assert got == [float(int(h, 16)) for h in hexes]

    def test_malformed_input(self, spark):
        cases = ["0xg1", "-0x1", " 0x1", "1_0", "0x0x1", "0X1F"]
        df = spark.createDataFrame([(c,) for c in cases], ["h"])
        rows = df.select(hex_to_double("h").alias("d"), hex_to_long("h").alias("l")).collect()
        assert all(r["d"] != r["d"] and r["l"] is None for r in rows[:-1])  # NaN / NULL
        assert (rows[-1]["d"], rows[-1]["l"]) == (31.0, 31)

    def test_hex_to_long_edges(self, spark):
        cases = [None, "", "0x", "0x7fffffffffffffff", "0x8000000000000000",
                 "0x" + "0" * 48 + "ffffffffffffffff", "0x" + "1" * 17]
        df = spark.createDataFrame([(c,) for c in cases], "h string")
        got = [r[0] for r in df.select(hex_to_long("h")).collect()]
        # token ids above int64 are NULL instead of failing the batch
        assert got == [None, 0, 0, 2**63 - 1, None, None, None]

    def test_decoders_start_no_python_worker(self, spark):
        from .conftest import events_df, make_swap_message, make_transfer_message
        from defi_etl_platform_sqlglot_implementation__spark.operators.swaps import (
            parse_swaps,
        )
        from defi_etl_platform_sqlglot_implementation__spark.operators.transfers import (
            decode_transfers,
        )

        ev = events_df(spark, [make_transfer_message(), make_swap_message()])
        for df in (decode_transfers(ev, checksum=False), parse_swaps(ev)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


class TestSelectorMap:
    def test_lookup_and_fill(self, spark):
        sels = list(TOKEN_STANDARDS) + ["0xdeadbeef", None]
        df = spark.createDataFrame([(s,) for s in sels], "sel: string")
        got = [r[0] for r in df.select(token_standards_col("sel")).collect()]
        assert got[: len(TOKEN_STANDARDS)] == list(TOKEN_STANDARDS.values())
        assert got[-2:] == ["unknown", "unknown"]
