"""Multi-dialect canonical SQL emission (Q1) through the rule transpiler
— including executable proof on the two engines available here (Spark +
DuckDB)."""

import duckdb

from defi_etl_platform_sqlglot_implementation__spark.plans.queries import (
    SWAP_PRICE_IMPACT_SQL,
    TRANSFER_VOLUME_SQL,
)
from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
    DIALECTS,
    transpile,
)


def transfer_volume_sql(dialect: str) -> str:
    return transpile(TRANSFER_VOLUME_SQL, dialect)


def swap_price_impact_sql(dialect: str) -> str:
    return transpile(SWAP_PRICE_IMPACT_SQL, dialect)


class TestDialectEmission:
    def test_all_seven_dialects(self):
        assert set(DIALECTS) == {
            "postgres", "bigquery", "snowflake", "duckdb", "spark", "trino", "mysql",
        }
        demo = {d: transfer_volume_sql(d) for d in DIALECTS}
        assert all(len(sql) > 50 for sql in demo.values())

    def test_bigquery_markers(self):
        sql = transfer_volume_sql("bigquery")
        assert "TIMESTAMP_TRUNC" in sql
        assert "CURRENT_TIMESTAMP()" in sql
        assert "`from`" in sql

    def test_postgres_markers(self):
        sql = transfer_volume_sql("postgres")
        assert "DATE_TRUNC" in sql
        assert '"from"' in sql
        assert "INTERVAL '24 hours'" in sql

    def test_duckdb_dialect_actually_executes(self):
        con = duckdb.connect()
        con.execute("""
            CREATE TABLE token_transfers (
                standard VARCHAR, contract VARCHAR, "from" VARCHAR, "to" VARCHAR,
                token_id BIGINT, amount DOUBLE, block_number BIGINT,
                block_timestamp TIMESTAMP, tx_hash VARCHAR, chain_id BIGINT)
        """)
        con.execute(
            "INSERT INTO token_transfers VALUES ('ERC-20','0xc','0xa','0xb',NULL,"
            "1e18, 1, NOW()::TIMESTAMP, '0xt', 1)"
        )
        rows = con.execute(transfer_volume_sql("duckdb")).fetchall()
        assert len(rows) == 1
        assert rows[0][4] == 1  # transfer_count

        con.execute("""
            CREATE TABLE defi_swaps (
                protocol VARCHAR, pool VARCHAR, amount0_in DOUBLE, amount1_in DOUBLE,
                amount0_out DOUBLE, amount1_out DOUBLE, price DOUBLE,
                block_number BIGINT, block_timestamp TIMESTAMP, chain_id BIGINT,
                tx_hash VARCHAR)
        """)
        # HAVING COUNT(*) > 5 -> needs 6 rows
        for i in range(6):
            con.execute(
                "INSERT INTO defi_swaps VALUES ('uniswap_v2','0xp',1.0,0.0,0.0,"
                f"{3000 + i}.0,{3000 + i}.0, {i}, NOW()::TIMESTAMP, 1, '0xt')"
            )
        rows = con.execute(swap_price_impact_sql("duckdb")).fetchall()
        assert len(rows) == 1 and rows[0][6] == 6

    def test_spark_dialect_actually_executes(self, spark):
        from tests.conftest import events_df, make_transfer_message
        import time

        from defi_etl_platform_sqlglot_implementation__spark.operators.transfers import (
            decode_transfers,
        )

        ts = int(time.time())
        transfers = decode_transfers(
            events_df(spark, [make_transfer_message(block_timestamp=ts)])
        )
        transfers.createOrReplaceTempView("token_transfers")
        rows = spark.sql(transfer_volume_sql("spark")).collect()
        assert len(rows) == 1 and rows[0]["transfer_count"] == 1
