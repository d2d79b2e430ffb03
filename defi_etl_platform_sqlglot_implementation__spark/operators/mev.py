"""MEV exposure scoring, set-based.

The reference scores blocks one at a time in a Python loop
(``MEVExposureModel.score_all_blocks``, risk_models.py:269-284, with
per-block slicing at :225-242). Here the whole thing is one aggregate over
the union of tx and swap rows, grouped by block — the shape that scales: no
driver loop, no per-block filter, one shuffle.

Signals (identical arithmetic to risk_models.py):
- sandwich  = min(100, 25 * #pools with >= 3 swaps in the block)   (:244-250)
- frontrun  = 0 if median gas == 0 else
              min(100, max(0, (max_gas/median_gas - 1) * 20))      (:252-262)
  (pandas ``.median()`` is the exact interpolated median -> ``percentile``,
   not percentile_approx; the reference computes ``.std()`` at :255 but
   never uses it — we don't either)
- backrun   = #pools with >= 2 swaps in the block                  (:264-267)
- mev_score = round(min(100, 0.5*sandwich + 0.4*frontrun + 2*backrun), 2)
  with sandwich/frontrun also rounded to 2 in the output            (:234-241)

Blocks are taken from the tx side only (risk_models.py:273); swap-only
blocks don't appear — hence the has-tx filter. Per-pool swap counts come
from the block's ``collect_list(pool)`` through higher-order functions (a
block holds a bounded number of swaps); a NULL pool is not a pool, as in
pandas' ``groupby``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the number of distinct pools in the block's list with at least {k} swaps
_POOLS_WITH = "size(filter(array_distinct(_pools), p -> size(filter(_pools, x -> x = p)) >= {k}))"


def mev_scores(tx: DataFrame, swaps: DataFrame) -> DataFrame:
    """(tx: block_number, gas_price_gwei; swaps: block_number, pool)
    -> mev_scores (SURVEY.md §1.4).  Built from SQL text; the score refers
    to the signals by their aliases (lateral column aliases)."""
    rows = tx.selectExpr("block_number", "gas_price_gwei", "true AS _tx").unionByName(
        swaps.selectExpr("block_number", "pool", "false AS _tx"), allowMissingColumns=True)
    return rows.groupBy("block_number").agg(
        F.expr("max(gas_price_gwei) AS gas_max"),
        F.expr("percentile(gas_price_gwei, 0.5) AS gas_med"),
        F.expr("collect_list(pool) AS _pools"),
        F.expr("bool_or(_tx) AS _has_tx"),
    ).where("_has_tx").selectExpr(
        "block_number",
        f"least(100.0D, CAST({_POOLS_WITH.format(k=3)} AS DOUBLE) * 25.0D) AS _sandwich",
        "CASE WHEN gas_med IS NULL OR gas_med = 0.0D THEN 0.0D"
        " ELSE least(100.0D, greatest(0.0D, (gas_max / gas_med - 1.0D) * 20.0D)) END AS _frontrun",
        f"CAST({_POOLS_WITH.format(k=2)} AS BIGINT) AS backrun_opportunities",
        "round(least(100.0D, _sandwich * 0.5D + _frontrun * 0.4D"
        " + CAST(backrun_opportunities AS DOUBLE) * 2.0D), 2) AS mev_score",
        "round(_sandwich, 2) AS sandwich_risk",
        "round(_frontrun, 2) AS frontrun_risk",
    ).select("block_number", "mev_score", "sandwich_risk", "frontrun_risk",
             "backrun_opportunities")
