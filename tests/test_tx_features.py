"""TransactionFeatureEngineer parity (reference tests :132-163) + exact
rolling-p90 parity against a pandas emulation."""

import numpy as np
import pandas as pd

from defi_etl_platform_sqlglot_implementation__spark.operators.tx_features import (
    aggregate_by_block,
    engineer_transactions,
)
from defi_etl_platform_sqlglot_implementation__spark.pipeline import lift_transactions

from .conftest import events_df, make_transaction_message


def _tx_df(spark, n=5, same_block=False):
    msgs = [
        make_transaction_message(
            gas_price_gwei=50 + i * 10,
            block_number=18_000_000 + (0 if same_block else i),
            nonce=i,
        )
        for i in range(n)
    ]
    return lift_transactions(events_df(spark, msgs))


class TestEngineer:
    def test_adds_columns(self, spark):
        out = engineer_transactions(_tx_df(spark))
        for c in ["gas_price_gwei", "value_eth", "fn_name", "gas_p90",
                  "is_high_priority", "is_contract_deploy", "is_defi_tx"]:
            assert c in out.columns

    def test_erc20_selector_detected(self, spark):
        out = engineer_transactions(_tx_df(spark)).collect()
        assert all(r["fn_name"] == "ERC20.transfer" for r in out)
        assert all(r["is_defi_tx"] for r in out)

    def test_unit_conversions(self, spark):
        r = sorted(engineer_transactions(_tx_df(spark)).collect(),
                   key=lambda x: x["nonce"])[0]
        assert r["gas_price_gwei"] == 50.0
        assert r["value_eth"] == 1.0

    def test_contract_deploy_flag(self, spark):
        msgs = [make_transaction_message(to=None, nonce=0)]
        out = engineer_transactions(lift_transactions(events_df(spark, msgs))).collect()
        assert out[0]["is_contract_deploy"] is True

    def test_rolling_p90_matches_pandas(self, spark):
        n = 250  # spans the 100-row window
        rng = np.random.default_rng(7)
        gwei = rng.uniform(10, 500, n)
        msgs = [
            make_transaction_message(gas_price_gwei=float(g), block_number=18_000_000 + i,
                                     nonce=i)
            for i, g in enumerate(gwei)
        ]
        out = engineer_transactions(lift_transactions(events_df(spark, msgs)))
        got = {r["block_number"]: r["gas_p90"] for r in out.collect()}
        # pandas reference semantics (etl_pipeline.py:226-233)
        s = pd.Series([float(int(g * 1e9)) / 1e9 for g in gwei])
        want = s.rolling(window=100, min_periods=1).quantile(0.9)
        for i in range(n):
            assert abs(got[18_000_000 + i] - want.iloc[i]) < 1e-9

    def test_high_priority_strict(self, spark):
        # single row: gas == p90 -> strict '>' means False (etl_pipeline.py:233)
        out = engineer_transactions(_tx_df(spark, n=1)).collect()
        assert out[0]["is_high_priority"] is False

    def test_p90_tie_keeps_the_tied_value(self, spark):
        # The last row's frame sorts to [20, 30, 40, x, x]: the p90
        # position 3.6 falls between the two x's, and the row itself is x.
        # pandas returns x; the engines' a*(1-t) + b*t lands one ulp below
        # this x, which would make the strict '>' true.
        x, t = 457.250232866, 0.9 * 4 - 3
        assert x * (1.0 - t) + x * t < x
        msgs = [
            make_transaction_message(gas_price_gwei=g, block_number=18_000_000 + i, nonce=i)
            for i, g in enumerate([20.0, 30.0, 40.0, x, x])
        ]
        out = engineer_transactions(lift_transactions(events_df(spark, msgs))).collect()
        last = max(out, key=lambda r: r["block_number"])
        assert (last["gas_price_gwei"], last["gas_p90"]) == (x, x)
        assert last["is_high_priority"] is False

    def test_features_equal_the_column_form(self, spark):
        # NULL `to`, an unknown selector and NULL `input`: the SQL-text
        # projection equals the withColumn chain it replaced, column for
        # column (names, order, types, nullability and values)
        from itertools import chain

        from pyspark.sql import functions as F

        from defi_etl_platform_sqlglot_implementation__spark.functions.maps import (
            TOKEN_STANDARDS,
        )

        msgs = [make_transaction_message(to=None, nonce=0),
                make_transaction_message(input_data="0xdeadbeef" + "0" * 56, nonce=1),
                make_transaction_message(input_data=None, nonce=2),
                make_transaction_message(input_data="0x095ea7b3", nonce=3)]
        tx = lift_transactions(events_df(spark, msgs))
        lookup = F.create_map(*[F.lit(x) for x in chain.from_iterable(TOKEN_STANDARDS.items())])
        want = (tx.withColumn("gas_price_gwei", F.col("gas_price").cast("double") / 1e9)
                .withColumn("value_eth", F.col("value_wei").cast("double") / 1e18)
                .withColumn("is_contract_deploy", F.col("to").isNull())
                .withColumn("fn_selector", F.substring(F.col("input"), 1, 10))
                .withColumn("fn_name", F.coalesce(lookup[F.col("fn_selector")], F.lit("unknown")))
                .withColumn("is_defi_tx", F.col("fn_name") != "unknown"))
        got = engineer_transactions(tx)
        assert got.columns == want.columns + ["gas_p90", "is_high_priority"]
        assert got.schema.fields[:len(want.columns)] == want.schema.fields
        rows = got.select(*want.columns).orderBy("nonce").collect()
        assert rows == want.orderBy("nonce").collect()
        assert [(r["fn_name"], r["is_defi_tx"], r["is_contract_deploy"]) for r in rows] == [
            ("ERC20.transfer", True, True), ("unknown", False, False),
            ("unknown", False, False), ("ERC20.approve", True, False)]


class TestAggregateByBlock:
    def test_counts_and_sums(self, spark):
        out = aggregate_by_block(engineer_transactions(_tx_df(spark, 10, same_block=True)))
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["tx_count"] == 10
        assert r["defi_tx_count"] == 10
        assert r["contract_deploys"] == 0
        assert abs(r["total_eth_volume"] - 10.0) < 1e-9
        assert r["max_gas_price_gwei"] == 140.0

    def test_multi_block(self, spark):
        out = aggregate_by_block(engineer_transactions(_tx_df(spark, 6)))
        assert out.count() == 6
