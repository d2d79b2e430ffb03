"""DeFiSwapParser semantics — slot decode + the price fallback chain
(reference etl_pipeline.py:137-188; the parser the reference never tests)."""

from defi_etl_platform_sqlglot_implementation__spark.operators.swaps import parse_swaps

from .conftest import events_df, make_swap_message, make_transfer_message

E18 = 10**18


class TestParseSwaps:
    def test_basic_decode_and_price(self, spark):
        # sell 2 token0 for 6000 token1 -> price 3000
        msg = make_swap_message(a0i=2 * E18, a1o=6000 * E18)
        r = parse_swaps(events_df(spark, [msg])).collect()[0]
        assert r["protocol"] == "uniswap_v2"
        assert r["amount0_in"] == float(2 * E18)
        assert r["amount1_out"] == float(6000 * E18)
        assert r["price"] == 3000.0

    def test_price_fallback_branch(self, spark):
        # a0i == 0 -> price = a0o / a1i
        msg = make_swap_message(a1i=4 * E18, a0o=2 * E18)
        r = parse_swaps(events_df(spark, [msg])).collect()[0]
        assert r["price"] == 0.5

    def test_price_or_1_quirk(self, spark):
        # a0i == 0 and a0o/a1i == 0 -> the reference's `or 1` kicks in
        msg = make_swap_message(a1i=4 * E18, a0o=0)
        r = parse_swaps(events_df(spark, [msg])).collect()[0]
        assert r["price"] == 1.0

    def test_price_case_equals_the_column_chain(self, spark):
        # zero denominators on either side, and results of 0 with and
        # without the `or 1` fallback, against the Column chain the SQL
        # CASE replaced and the reference's own expression
        from pyspark.sql import functions as F

        rows = [(0, 5, 0, 7), (0, 4, 8, 0), (3, 0, 0, 6), (3, 0, 0, 0), (0, 3, 0, 0),
                (7, 0, 5, 0), (2, 3, 4, 5)]
        msgs = [make_swap_message(*r, block_number=18_000_000 + i) for i, r in enumerate(rows)]
        a0i, a1i, a0o, a1o = (F.col(c) for c in
                              ("amount0_in", "amount1_in", "amount0_out", "amount1_out"))
        alt = a0o / a1i
        chain = F.when(a0i != 0.0, a1o / a0i).otherwise(F.when(alt != 0.0, alt).otherwise(1.0))
        got = (parse_swaps(events_df(spark, msgs))
               .select("block_number", "price", chain.alias("chain"))
               .orderBy("block_number").collect())
        want = [float((d / a) if a else ((c / b) or 1)) for a, b, c, d in rows]
        assert [r["price"] for r in got] == [r["chain"] for r in got] == want

    def test_both_denominators_zero_dropped(self, spark):
        # reference raises ZeroDivisionError -> except -> row dropped
        msg = make_swap_message(a0i=0, a1i=0, a0o=5, a1o=5)
        assert parse_swaps(events_df(spark, [msg])).count() == 0

    def test_non_swap_topics_skipped(self, spark):
        df = parse_swaps(
            events_df(spark, [make_transfer_message(), make_swap_message(a0i=1, a1o=1)])
        )
        assert df.count() == 1

    def test_uint256_overflow_degrades_to_float(self, spark):
        # amounts beyond 2^53 keep float64 semantics (etl_pipeline.py:129)
        big = 2**200
        msg = make_swap_message(a0i=big, a1o=big)
        r = parse_swaps(events_df(spark, [msg])).collect()[0]
        assert r["amount0_in"] == float(big)
        assert r["price"] == 1.0
