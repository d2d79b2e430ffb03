"""Historical VaR / CVaR, rolling variants, stress tables, impermanent loss.

Set-based re-expression of the reference's risk models
(risk_models.py:58-204). Scalar results come back as one-row DataFrames;
rolling series as windowed DataFrames.

Faithful semantics:
- VaR: q = exact linear-interpolated quantile(returns, 1-confidence)
  (np.quantile 'linear' == Spark ``percentile``); var = -q;
  cvar = -mean(r[r <= q]); optional sqrt(horizon) scaling  (risk_models.py:91-99)
- rolling_var: trailing `window` rows, min_periods = window // 2 -> NULL
  below that count, scaled by -position_size                (:110-122)
- rolling VaR/CVaR series (api/data_service.py:141-150): the window
  *excludes* the current row (fit on returns[i-w:i]) and only full windows
  emit — rowsBetween(-w, -1) + count == w. CVaR (mean below the window's own
  quantile) has no single built-in: VaR via the window, then a bounded
  self-join (j in [i-w, i-1], r_j <= q_i) + one aggregate (SURVEY.md §7.4.1).
- stress_test: shocks -> pnl = shock * position             (:124-143)
- impermanent loss closed form over a ratio grid            (:158-204)

Scale note: global-ordered windows are single-task; pass partition_col for
the partitioned variant. The CVaR self-join is a range join bounded to
`window` rows per row — linear, not quadratic, and shuffles on the ordering
key only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.bronze import local_frame


def var_cvar(
    returns: DataFrame,
    value_col: str = "r",
    confidence: float = 0.95,
    horizon_days: int = 1,
    scale_by_sqrt: bool = True,
    position_size: float = 1_000_000.0,
) -> DataFrame:
    """One-row DataFrame: confidence, horizon_days, var, cvar, returns_used,
    method — mirroring ``VaRResult`` (risk_models.py:28-35, 76-108)."""
    r = F.col(value_col)
    q_df = returns.where(r.isNotNull()).agg(
        F.expr(f"percentile({value_col}, {1 - confidence})").alias("q"),
        F.count(value_col).alias("returns_used"),
    )
    scale = float(horizon_days) ** 0.5 if (scale_by_sqrt and horizon_days > 1) else 1.0
    # broadcast the 1-row quantile back across the returns for the CVaR tail mean
    tail = (
        returns.where(r.isNotNull())
        .join(F.broadcast(q_df), on=r <= F.col("q"), how="inner")
        .agg(F.avg(value_col).alias("tail_mean"), F.first("q").alias("q"),
             F.first("returns_used").alias("returns_used"))
    )
    return tail.select(
        F.lit(confidence).alias("confidence"),
        F.lit(horizon_days).alias("horizon_days"),
        (-F.col("q") * scale * position_size).alias("var"),
        (-F.col("tail_mean") * scale * position_size).alias("cvar"),
        F.col("returns_used"),
        F.lit("historical_simulation").alias("method"),
    )


def rolling_var(
    returns: DataFrame,
    order_cols: Sequence[str],
    value_col: str = "r",
    window: int = 30,
    confidence: float = 0.95,
    position_size: float = 1_000_000.0,
    partition_col: str | None = None,
) -> DataFrame:
    """Adds ``rolling_var`` (NULL below min_periods = window//2),
    risk_models.py:110-122."""
    order = [F.col(c) for c in order_cols]
    w = (Window.partitionBy(partition_col) if partition_col else Window).orderBy(*order)
    frame = w.rowsBetween(-(window - 1), 0)
    min_periods = window // 2
    q = F.expr(f"percentile({value_col}, {1 - confidence})").over(frame)
    cnt = F.count(value_col).over(frame)
    return returns.withColumn(
        "rolling_var",
        F.when(cnt >= min_periods, q * F.lit(-position_size)),
    )


def rolling_var_cvar(
    returns: DataFrame,
    idx_col: str,
    value_col: str = "r",
    window: int = 30,
    confidence: float = 0.95,
    position_size: float = 1_000_000.0,
    partition_col: str | None = None,
) -> DataFrame:
    """Trailing-window VaR *and* CVaR where the window excludes the current
    row (api/data_service.py:141-150): rows with a full `window` preceding
    rows emit (idx, var, cvar).

    ``idx_col`` must be a unique orderable key; it need not be contiguous —
    a dense ``row_number`` is derived internally so the rows-frame window
    and the bounded self-join see the same neighborhoods.

    ``partition_col=None`` reproduces the reference's single global series:
    one sort task plus a broadcast-nested-loop range join — the documented
    W3 scale bottleneck (SURVEY.md §7.4.1), kept for reference parity.
    Passing a series key computes independent per-series windows (resetting
    at boundaries) — the window sorts within partitions in parallel, and the
    series-equality key turns the range self-join into a shuffled hash join
    with the range as a residual filter. That is the 100 TB shape.
    """
    pw = Window.partitionBy(partition_col) if partition_col else Window
    base = returns.withColumn("_rn", F.row_number().over(pw.orderBy(idx_col)))
    w = pw.orderBy("_rn").rowsBetween(-window, -1)
    q = F.expr(f"percentile({value_col}, {1 - confidence})").over(w)
    cnt = F.count(value_col).over(w)
    anchor_cols = [F.col(idx_col).alias("_i"), F.col("_rn").alias("i"), "q"]
    rs_cols = [F.col("_rn").alias("j"), F.col(value_col).alias("r_j")]
    if partition_col:
        anchor_cols.append(F.col(partition_col).alias("_p"))
        rs_cols.append(F.col(partition_col).alias("_pj"))
    with_q = (
        base.withColumn("q", q)
        .withColumn("_cnt", cnt)
        .where(F.col("_cnt") == window)
        .select(*anchor_cols)
    )

    rs = base.select(*rs_cols)
    # bounded range join: j in [i-window, i-1] — `window` rows per anchor
    cond = (F.col("j") >= F.col("i") - window) & (F.col("j") <= F.col("i") - 1)
    if partition_col:
        cond = (F.col("_p") == F.col("_pj")) & cond
    group = (["_p"] if partition_col else []) + ["_i", "q"]
    tail = (
        with_q.join(rs, cond)
        .where(F.col("r_j") <= F.col("q"))
        .groupBy(*group)
        .agg(F.avg("r_j").alias("tail_mean"))
    )
    out_cols = [
        F.col("_i").alias(idx_col),
        (-F.col("q") * position_size).alias("var"),
        (-F.col("tail_mean") * position_size).alias("cvar"),
    ]
    if partition_col:
        out_cols.insert(0, F.col("_p").alias(partition_col))
    return tail.select(*out_cols)


def stress_test(
    spark: SparkSession,
    shock_pcts: Sequence[float] | None = None,
    position_size: float = 1_000_000.0,
) -> DataFrame:
    """Hypothetical-shock P&L table (risk_models.py:124-143)."""
    if shock_pcts is None:
        shock_pcts = [-0.10, -0.20, -0.30, -0.50, -0.80]
    shocks = local_frame(spark, [(float(s),) for s in shock_pcts], "shock double")
    return shocks.select(
        (F.col("shock") * 100.0).alias("shock_pct"),
        (F.col("shock") * position_size).alias("pnl_usd"),
        (F.lit(position_size) + F.col("shock") * position_size).alias("position_remaining"),
    )


def il_components(r):
    """Closed-form IL pieces for a price ratio column r (risk_models.py:164-171)."""
    lp_relative = 2.0 * F.sqrt(r) / (1.0 + r)
    return lp_relative, (lp_relative - 1.0)


def il_scan(
    spark: SparkSession,
    price_entry: float = 1.0,
    initial_usd: float = 10_000.0,
    ratios: Sequence[float] | None = None,
) -> DataFrame:
    """IL across a ratio grid (risk_models.py:182-204): price_ratio,
    price_current, il_pct, lp_value, hold_value, loss_usd."""
    if ratios is None:
        ratios = [0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 5.0, 10.0]
    grid = local_frame(spark, [(float(x),) for x in ratios], "price_ratio double")
    r = F.col("price_ratio")
    lp_relative, il = il_components(r)
    hold_value = F.lit(initial_usd) * (1.0 + r) / 2.0
    lp_value = F.lit(initial_usd) * lp_relative
    return grid.select(
        r.alias("price_ratio"),
        (F.lit(price_entry) * r).alias("price_current"),
        (il * 100.0).alias("il_pct"),
        lp_value.alias("lp_value"),
        hold_value.alias("hold_value"),
        (lp_value - hold_value).alias("loss_usd"),
    )
