"""Uniswap-V2 Swap-event parsing as a pure DataFrame transform.

Re-expression of the reference's ``DeFiSwapParser`` (etl_pipeline.py:137-188).
The reference ABI-decodes 4 uint256 slots with eth_abi; a uint256 slot is a
fixed 64-hex-char big-endian field, so the decode is pure column algebra:
``substring(data, 3 + 64*k, 64)`` per slot -> uint256-hex -> float64. No
eth_abi, no Python loop, stays parallel and in codegen.

Deliberate divergence, documented: the reference preprocesses data with
``data.lstrip("0x")`` (etl_pipeline.py:148). ``str.lstrip`` strips *any*
leading '0'/'x' characters — so any swap whose amount0_in has leading zero
hex digits (i.e. virtually all real swaps) loses bytes, eth_abi raises, and
the row is silently dropped. The reference's own tests never exercise the
parser and its demo layer fabricates swap frames directly
(api/data_service.py:222-233), so the bug is unobserved there. We implement
the evident intent (strip the '0x' *prefix* only). Rows where both
amount0_in and amount1_in are zero are still dropped, matching the
reference's ZeroDivisionError -> except -> None path at :159.

Price expression replicates the quirky fallback chain at :159 exactly:
``a1o/a0i if a0i else (a0o/a1i or 1)`` — including "result == 0 => 1".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hex import hex_to_double_sql
from ..functions.keccak import UNISWAP_V2_SWAP_TOPIC

_SLOTS = ("amount0_in", "amount1_in", "amount0_out", "amount1_out")


def swap_price_sql(a0i: str, a1i: str, a0o: str, a1o: str) -> str:
    """Reference price fallback chain (etl_pipeline.py:159), faithfully:
    ``a1o/a0i if a0i else (a0o/a1i or 1)``.  The amounts and the result
    are SQL text."""
    alt = f"({a0o}) / ({a1i})"
    return (f"CASE WHEN ({a0i}) != 0.0D THEN ({a1o}) / ({a0i})"
            f" WHEN {alt} != 0.0D THEN {alt} ELSE 1.0D END")


def swap_price(a0i: str, a1i: str, a0o: str, a1o: str) -> Column:
    """:func:`swap_price_sql` as a column; the amounts are SQL expressions
    (a column name is one)."""
    return F.expr(swap_price_sql(a0i, a1i, a0o, a1o))


def parse_swaps(events: DataFrame) -> DataFrame:
    """events (envelope schema) -> defi_swaps (SURVEY.md §1.4).  The filter
    and the slot decode are SQL text, like ``decode_transfers``."""
    # both-denominators-zero drop (reference ZeroDivisionError path, :159)
    # tested on the RAW hex slots: a uint256 slot decodes to 0.0 iff every
    # hex digit is '0'. Doing this as a string predicate BEFORE the
    # projection means the decode below runs exactly once per surviving
    # row — a filter on the decoded columns would be pushed below the
    # projection with the decode inlined, decoding slots 0/1 twice.
    base = events.where(
        "payload.topics IS NOT NULL AND size(payload.topics) >= 1"
        f" AND try_element_at(payload.topics, 1) = '{UNISWAP_V2_SWAP_TOPIC}'"
        f" AND payload.data IS NOT NULL AND length(payload.data) >= {2 + 64 * 4}"
        " AND NOT (substring(payload.data, 3, 64) RLIKE '^0{64}$'"
        " AND substring(payload.data, 67, 64) RLIKE '^0{64}$')"
    )
    # the k-th 32-byte ABI slot of the 0x-prefixed data, as float64
    parsed = base.selectExpr(
        "'uniswap_v2' AS protocol",
        "payload.contract AS pool",
        *[f"{hex_to_double_sql(f'substring(payload.data, {3 + 64 * k}, 64)')} AS {name}"
          for k, name in enumerate(_SLOTS)],
        "block_number",
        "timestamp_seconds(block_timestamp) AS block_timestamp",
        "chain_id",
        "coalesce(payload.tx_hash, '') AS tx_hash",
    )
    return parsed.selectExpr(
        "protocol", "pool", *_SLOTS, f"{swap_price_sql(*_SLOTS)} AS price",
        "block_number", "block_timestamp", "chain_id", "tx_hash",
    )
