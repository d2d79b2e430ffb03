"""Batch ETL orchestrator — the Spark analog of
``BlockchainETLPipeline.run`` (reference etl_pipeline.py:380-446).

One lazy DAG: bronze events -> {decode_transfers, parse_swaps,
engineer_transactions} -> aggregate_by_block, with the canonical analytics
SQL *executed* over the registered views (the reference only emits the SQL
text, :431-437). Catalyst fuses/prunes across the whole graph; nothing is
materialized until the caller acts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.swaps import parse_swaps
from .operators.transfers import decode_transfers
from .operators.tx_features import aggregate_by_block, engineer_transactions
from .plans.queries import SWAP_PRICE_IMPACT_SQL, TRANSFER_VOLUME_SQL


def lift_transactions(events: DataFrame) -> DataFrame:
    """transaction events -> flat payload + envelope columns
    (etl_pipeline.py:421-425).

    Only the transaction payload fields are lifted — with the wide
    PAYLOAD_UNION schema the log-only fields (topics, data, ...) would
    otherwise leak into the transactions table as NULL columns, diverging
    from the reference's tx frame shape.
    """
    from .schemas import TRANSACTION_PAYLOAD

    available = set(events.schema["payload"].dataType.fieldNames())
    return events.where("event_type = 'transaction'").selectExpr(
        *[f"payload.`{f.name}` AS `{f.name}`" for f in TRANSACTION_PAYLOAD if f.name in available],
        "block_number",
        "timestamp_seconds(block_timestamp) AS block_timestamp",
        "chain_id",
    )


def run_batch(
    spark: SparkSession,
    events: DataFrame,
    register_views: bool = True,
    execute_sql: bool = True,
    checksum: bool = True,
) -> dict[str, DataFrame | str]:
    """Mirror of the reference run() contract (etl_pipeline.py:439-446):
    keys transfers / swaps / transactions / block_agg + the two canonical
    queries — here as live DataFrames (``transfer_volume`` /
    ``swap_price_impact``) alongside their SQL texts."""
    transfers = decode_transfers(events, checksum=checksum)
    swaps = parse_swaps(events)
    tx = engineer_transactions(lift_transactions(events))
    block_agg = aggregate_by_block(tx)

    out: dict[str, DataFrame | str] = {
        "transfers": transfers,
        "swaps": swaps,
        "transactions": tx,
        "block_agg": block_agg,
        "transfer_sql": TRANSFER_VOLUME_SQL,
        "swap_sql": SWAP_PRICE_IMPACT_SQL,
    }

    if register_views:
        transfers.createOrReplaceTempView("token_transfers")
        swaps.createOrReplaceTempView("defi_swaps")
        tx.createOrReplaceTempView("transactions")
        block_agg.createOrReplaceTempView("block_agg")
        if execute_sql:
            out["transfer_volume"] = spark.sql(TRANSFER_VOLUME_SQL)
            out["swap_price_impact"] = spark.sql(SWAP_PRICE_IMPACT_SQL)

    return out
