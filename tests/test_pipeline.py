"""End-to-end batch pipeline (reference tests :215-246) + the canonical SQL
actually executing (the reference only transpiles it)."""

from defi_etl_platform_sqlglot_implementation__spark.pipeline import run_batch
from defi_etl_platform_sqlglot_implementation__spark.plans.sqlutil import (
    analyze_sql,
    validate_sql,
)
from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
    DIALECTS,
    transpile,
)
from defi_etl_platform_sqlglot_implementation__spark.plans.queries import (
    build_block_range_query,
)

import time

from .conftest import events_df, make_swap_message, make_transaction_message, make_transfer_message

E18 = 10**18


def _batch(spark, now_ts=None):
    ts = now_ts or int(time.time())
    msgs = [
        make_transfer_message("ERC-20", block_number=18_000_000, block_timestamp=ts),
        make_transfer_message("ERC-721", block_number=18_000_001, block_timestamp=ts),
        make_transaction_message(gas_price_gwei=80, block_number=18_000_000,
                                 block_timestamp=ts, nonce=1),
        make_transaction_message(gas_price_gwei=120, block_number=18_000_001,
                                 block_timestamp=ts, nonce=2),
        make_swap_message(a0i=2 * E18, a1o=6000 * E18, block_number=18_000_000,
                          block_timestamp=ts),
    ]
    return events_df(spark, msgs)


class TestRunBatch:
    def test_returns_all_keys(self, spark):
        results = run_batch(spark, _batch(spark))
        for k in ["transfers", "swaps", "transactions", "block_agg",
                  "transfer_sql", "swap_sql", "transfer_volume", "swap_price_impact"]:
            assert k in results

    def test_transfers_non_empty(self, spark):
        results = run_batch(spark, _batch(spark))
        assert results["transfers"].count() >= 2

    def test_swaps_parsed(self, spark):
        results = run_batch(spark, _batch(spark))
        assert results["swaps"].count() == 1

    def test_block_agg(self, spark):
        results = run_batch(spark, _batch(spark))
        agg = {r["block_number"]: r for r in results["block_agg"].collect()}
        assert agg[18_000_000]["tx_count"] == 1
        assert agg[18_000_001]["max_gas_price_gwei"] == 120.0

    def test_canonical_sql_executes(self, spark):
        # recent timestamps pass the 24h predicate -> 1 ERC-20 hourly bucket
        results = run_batch(spark, _batch(spark))
        tv = results["transfer_volume"].collect()
        assert len(tv) == 1
        assert tv[0]["transfer_count"] == 1
        assert tv[0]["unique_senders"] == 1
        assert tv[0]["volume_normalized"] == 10.0
        assert "hour_bucket" in results["transfer_volume"].columns

    def test_sql_mentions_table(self, spark):
        results = run_batch(spark, _batch(spark))
        assert "token_transfers" in results["transfer_sql"]


class TestSQLUtil:
    def test_validate_valid(self, spark):
        assert validate_sql(spark, "SELECT 1 FROM foo WHERE bar = 1") == []

    def test_validate_invalid(self, spark):
        errors = validate_sql(spark, "SELECT * FROM (((")
        assert isinstance(errors, list) and len(errors) >= 1

    def test_analyze_missing_table(self, spark):
        errors = analyze_sql(spark, "SELECT * FROM definitely_not_a_table_xyz")
        assert len(errors) >= 1

    def test_all_dialects(self):
        d = DIALECTS
        for x in ["bigquery", "snowflake", "duckdb", "spark"]:
            assert x in d

    def test_identity_transpile(self):
        assert transpile("SELECT 1", "spark") == "SELECT 1"

    def test_block_range_query_text(self):
        sql = build_block_range_query(18_000_000, 18_001_000)
        assert "18000000" in sql and "18001000" in sql
