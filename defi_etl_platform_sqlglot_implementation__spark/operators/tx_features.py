"""Transaction feature engineering + per-block aggregation.

Re-expression of the reference's ``TransactionFeatureEngineer``
(etl_pipeline.py:195-252) as declarative column expressions plus one
rows-frame window.

Faithful semantics:
- gas_price_gwei = float(gas_price)/1e9; value_eth = float(value_wei)/1e18
  (:209-214) — strings cast to double, preserving the float64 degradation
- is_contract_deploy = ``to`` IS NULL                         (:217)
- fn_selector = input[:10]; fn_name = map lookup, 'unknown' fill;
  is_defi_tx = fn_name != 'unknown'                            (:220-223)
- gas_p90 = trailing-100-row exact 0.9-quantile after sorting by
  block_number, min_periods=1                                  (:226-232)
- is_high_priority = gas_price_gwei > gas_p90 (strict)         (:233)

Ordering note: pandas ``sort_values`` is stable, so rows tie-broken by
their input order within equal block_number. A distributed engine has no
"input order" on an unordered DataFrame, so callers pass ``order_cols`` (a
deterministic total order; default block_number then nonce) — the one place
the reference relies on incidental frame order.

Scale note (100 TB): the rolling window is a single global ``orderBy`` —
one task at scale (SURVEY.md §7.4.5). ``partition_col`` (e.g. chain_id or a
date bucket) makes it a partitioned window; the reference-parity default
stays global.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.maps import token_standards_sql

GAS_P90_WINDOW = 100  # trailing rows, reference etl_pipeline.py:230


def engineer_transactions(
    tx: DataFrame,
    order_cols: Sequence[str] = ("block_number", "nonce"),
    partition_col: str | None = None,
) -> DataFrame:
    """Raw tx payload columns (+ envelope block_number/block_timestamp/
    chain_id) -> engineered feature columns (SURVEY.md §1.4 `transactions`).
    The features are one projection of SQL text, then the rolling p90
    kernel and ``is_high_priority`` over it.
    """
    cols = set(tx.columns)
    feats = {}
    if "gas_price" in cols:
        feats["gas_price_gwei"] = "CAST(gas_price AS DOUBLE) / 1e9D"
    if "value_wei" in cols:
        feats["value_eth"] = "CAST(value_wei AS DOUBLE) / 1e18D"
    feats["is_contract_deploy"] = "`to` IS NULL"
    if "input" in cols:
        selector = "substring(input, 1, 10)"  # '0x' + 8 hex of calldata (:221)
        fn_name = token_standards_sql(selector)
        feats.update(fn_selector=selector, fn_name=fn_name,
                     is_defi_tx=f"{fn_name} != 'unknown'")
    # withColumns: one projection that, like withColumn, replaces a column
    # of the same name in place
    df = tx.withColumns({name: F.expr(sql) for name, sql in feats.items()})

    if "gas_price" in cols:
        from .scale import rolling_quantile_pandas

        # the reference's own rolling().quantile(0.9) (etl_pipeline.py:230),
        # min_periods=1: pandas' kernel, so a tie at the p90 position
        # returns the tied value itself and the strict > below stays false
        df = rolling_quantile_pandas(
            df, order_cols, "gas_price_gwei", 0.9, GAS_P90_WINDOW,
            out="gas_p90",
            partition_col=F.col(partition_col) if partition_col is not None else None,
        )
        df = df.withColumn("is_high_priority", F.expr("gas_price_gwei > gas_p90"))

    return df


def aggregate_by_block(tx: DataFrame) -> DataFrame:
    """Per-block multi-aggregate (etl_pipeline.py:238-252): one hash
    aggregate with map-side partial aggregation — no window, no sort."""
    count_col = "hash" if "hash" in tx.columns else "block_number"
    return tx.groupBy("block_number").agg(*[F.expr(e) for e in (
        f"count({count_col}) AS tx_count",
        "sum(value_eth) AS total_eth_volume",
        "avg(gas_price_gwei) AS avg_gas_price_gwei",
        "max(gas_price_gwei) AS max_gas_price_gwei",
        "sum(CAST(is_defi_tx AS BIGINT)) AS defi_tx_count",
        "sum(CAST(is_contract_deploy AS BIGINT)) AS contract_deploys",
    )])
