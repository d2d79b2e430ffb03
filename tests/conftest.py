"""Shared Spark session + reference-shaped synthetic event builders.

The builders mirror the reference's test fixtures
(reference tests/test_etl_pipeline.py:34-79) — same topics/data encodings,
deterministic timestamps instead of time.time() so assertions are stable.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import SparkSession

from defi_etl_platform_sqlglot_implementation__spark import session
from defi_etl_platform_sqlglot_implementation__spark.functions.keccak import (
    ERC20_TRANSFER_TOPIC,
    UNISWAP_V2_SWAP_TOPIC,
)
from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import parse_raw_events

FIXED_TS = 1_700_000_000  # deterministic epoch seconds


@pytest.fixture(scope="session")
def spark():
    # plan-lint tests depend on local[4], 4 shuffle partitions and AQE
    spark = session(4, "defi-spark-tests")
    yield spark
    spark.stop()


def make_transfer_message(
    standard="ERC-20",
    block_number=18_000_000,
    block_timestamp=FIXED_TS,
    amount=10 * 10**18,
    token_id=1,
    contract="0xA0b86991c6218b36c1d19D4a2e9Eb0cE3606eB48",
    log_index=0,
) -> str:
    from_addr = "0x" + "a" * 64
    to_addr = "0x" + "b" * 64
    topics = [ERC20_TRANSFER_TOPIC, from_addr, to_addr]
    if standard == "ERC-721":
        topics.append("0x" + hex(token_id)[2:].rjust(64, "0"))
    return json.dumps(
        {
            "chain_id": 1,
            "network": "ethereum-mainnet",
            "block_number": block_number,
            "block_timestamp": block_timestamp,
            "event_type": "token_transfer",
            "payload": {
                "tx_hash": "0x" + "c" * 64,
                "log_index": log_index,
                "contract": contract,
                "topics": topics,
                "data": hex(amount),
            },
            "ingested_at": float(block_timestamp),
        }
    )


def make_transaction_message(
    gas_price_gwei=50,
    value_eth=1.0,
    block_number=18_000_000,
    block_timestamp=FIXED_TS,
    nonce=42,
    to="0x" + "b" * 40,
    input_data="0xa9059cbb" + "0" * 56,
) -> str:
    return json.dumps(
        {
            "chain_id": 1,
            "network": "ethereum-mainnet",
            "block_number": block_number,
            "block_timestamp": block_timestamp,
            "event_type": "transaction",
            "payload": {
                "hash": "0x" + "d" * 64,
                "from": "0x" + "a" * 40,
                "to": to,
                "value_wei": str(int(value_eth * 1e18)),
                "gas": 21000,
                "gas_price": str(int(gas_price_gwei * 1e9)),
                "nonce": nonce,
                "input": input_data,
            },
            "ingested_at": float(block_timestamp),
        }
    )


def make_swap_message(
    a0i=0, a1i=0, a0o=0, a1o=0,
    pool="0x" + "e" * 40,
    block_number=18_000_000,
    block_timestamp=FIXED_TS,
) -> str:
    data = "0x" + "".join(hex(v)[2:].rjust(64, "0") for v in (a0i, a1i, a0o, a1o))
    return json.dumps(
        {
            "chain_id": 1,
            "network": "ethereum-mainnet",
            "block_number": block_number,
            "block_timestamp": block_timestamp,
            "event_type": "log",
            "payload": {
                "tx_hash": "0x" + "f" * 64,
                "log_index": 0,
                "contract": pool,
                "topics": [UNISWAP_V2_SWAP_TOPIC, "0x" + "1" * 64, "0x" + "2" * 64],
                "data": data,
            },
            "ingested_at": float(block_timestamp),
        }
    )


def events_df(spark: SparkSession, raw_messages: list[str]):
    """raw JSON strings -> typed envelope DataFrame (exercises S4 from_json)."""
    raw = spark.createDataFrame([(m,) for m in raw_messages], ["value"])
    return parse_raw_events(raw)
