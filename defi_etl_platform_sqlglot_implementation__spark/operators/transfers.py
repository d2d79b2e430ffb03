"""ERC-20 / ERC-721 Transfer-log decoding as a pure DataFrame transform.

Spark-first re-expression of the reference's row-loop decoder
(``TokenTransferDecoder``, reference etl_pipeline.py:65-130): the per-row
``decode_log`` becomes one declarative projection — filters, ``when``
branches, substrings and the ``conv``-based hex decode that Catalyst keeps
inside whole-stage codegen — with EIP-55, the one irreducible pandas UDF,
applied as an Arrow-batched column (and skipped by ``checksum=False``).

Faithful semantics:
- event_type gate ``in ("token_transfer","log")``     (etl_pipeline.py:114)
- ``topics[0] == ERC20_TRANSFER_TOPIC``               (:77)
- rows whose decode would raise are dropped, i.e. topics must have >= 3
  entries (IndexError path at :81-82 returns None)
- ``len(topics) >= 4`` -> ERC-721: token_id=int(topics[3],16), amount=1 (:85-94)
  else ERC-20: token_id NULL, amount=int(data,16), ''/'0x'/null -> 0 (:96-105)
- epoch-seconds -> timestamp                          (:128)
- amount cast float64                                 (:129)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hex import eip55_checksum, hex_to_double, hex_to_long, topic_address
from ..functions.keccak import ERC20_TRANSFER_TOPIC


def decode_transfers(events: DataFrame, checksum: bool = True) -> DataFrame:
    """events (envelope schema) -> token_transfers (SURVEY.md §1.4).

    ``checksum=False`` skips EIP-55 (keeps addresses lowercase) for
    oracle comparisons where mixed-casing is cosmetic (SURVEY.md §2.10).
    """
    p = F.col("payload")
    topics = p["topics"]

    base = (
        events.filter(F.col("event_type").isin("token_transfer", "log"))
        .filter(topics.isNotNull() & (F.size(topics) >= 3))
        .filter(F.try_element_at(topics, F.lit(1)) == F.lit(ERC20_TRANSFER_TOPIC))
    )

    is_721 = F.size(topics) >= 4
    from_addr = topic_address(F.try_element_at(topics, F.lit(2)))
    to_addr = topic_address(F.try_element_at(topics, F.lit(3)))
    if checksum:
        from_addr = eip55_checksum(from_addr)
        to_addr = eip55_checksum(to_addr)

    return base.select(
        F.when(is_721, F.lit("ERC-721")).otherwise(F.lit("ERC-20")).alias("standard"),
        p["contract"].alias("contract"),
        from_addr.alias("from"),
        to_addr.alias("to"),
        F.when(is_721, hex_to_long(F.try_element_at(topics, F.lit(4)))).alias("token_id"),
        F.when(is_721, F.lit(1.0)).otherwise(hex_to_double(p["data"])).alias("amount"),
        F.col("block_number"),
        F.timestamp_seconds(F.col("block_timestamp")).alias("block_timestamp"),
        p["tx_hash"].alias("tx_hash"),
        F.col("chain_id"),
    )
