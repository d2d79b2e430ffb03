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

from ..functions.hex import eip55_checksum, hex_to_double_sql, hex_to_long_sql
from ..functions.keccak import ERC20_TRANSFER_TOPIC


def decode_transfers(events: DataFrame, checksum: bool = True) -> DataFrame:
    """events (envelope schema) -> token_transfers (SURVEY.md §1.4).

    ``checksum=False`` skips EIP-55 (keeps addresses lowercase) for
    oracle comparisons where mixed-casing is cosmetic (SURVEY.md §2.10).
    The filter and the projection are SQL text: one parse each, not one
    py4j call per expression node.
    """
    is_721 = "size(payload.topics) >= 4"
    out = events.where(
        "event_type IN ('token_transfer', 'log') AND payload.topics IS NOT NULL"
        " AND size(payload.topics) >= 3"
        f" AND try_element_at(payload.topics, 1) = '{ERC20_TRANSFER_TOPIC}'"
    ).selectExpr(
        f"IF({is_721}, 'ERC-721', 'ERC-20') AS standard",
        "payload.contract AS contract",
        # '0x' + the last 40 hex chars of the 32-byte topic (etl_pipeline.py:81)
        "concat('0x', substring(try_element_at(payload.topics, 2), -40, 40)) AS `from`",
        "concat('0x', substring(try_element_at(payload.topics, 3), -40, 40)) AS `to`",
        f"IF({is_721}, {hex_to_long_sql('try_element_at(payload.topics, 4)')}, NULL) AS token_id",
        f"IF({is_721}, 1.0D, {hex_to_double_sql('payload.data')}) AS amount",
        "block_number",
        "timestamp_seconds(block_timestamp) AS block_timestamp",
        "payload.tx_hash AS tx_hash",
        "chain_id",
    )
    if checksum:
        out = out.withColumns({c: eip55_checksum(F.col(c)) for c in ("from", "to")})
    return out
