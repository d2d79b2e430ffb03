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


def mev_scores(tx: DataFrame, swaps: DataFrame) -> DataFrame:
    """(tx: block_number, gas_price_gwei; swaps: block_number, pool)
    -> mev_scores (SURVEY.md §1.4)."""
    rows = tx.select("block_number", "gas_price_gwei", F.lit(True).alias("_tx")).unionByName(
        swaps.select("block_number", "pool", F.lit(False).alias("_tx")),
        allowMissingColumns=True)
    blocks = rows.groupBy("block_number").agg(
        F.max("gas_price_gwei").alias("gas_max"),
        F.expr("percentile(gas_price_gwei, 0.5)").alias("gas_med"),
        F.collect_list("pool").alias("_pools"),
        F.bool_or("_tx").alias("_has_tx"),
    ).where("_has_tx")

    def pools_with(k: int):
        return F.size(F.filter(
            F.array_distinct("_pools"),
            lambda p: F.size(F.filter("_pools", lambda x: x == p)) >= k))

    sandwich = F.least(F.lit(100.0), pools_with(3).cast("double") * 25.0)
    frontrun = F.when(
        F.col("gas_med").isNull() | (F.col("gas_med") == 0.0), F.lit(0.0)
    ).otherwise(
        F.least(
            F.lit(100.0),
            F.greatest(F.lit(0.0), (F.col("gas_max") / F.col("gas_med") - 1.0) * 20.0),
        )
    )
    backrun = pools_with(2).cast("long")

    composite = F.least(
        F.lit(100.0), sandwich * 0.5 + frontrun * 0.4 + backrun.cast("double") * 2.0
    )

    return blocks.select(
        "block_number",
        F.round(composite, 2).alias("mev_score"),
        F.round(sandwich, 2).alias("sandwich_risk"),
        F.round(frontrun, 2).alias("frontrun_risk"),
        backrun.alias("backrun_opportunities"),
    )
