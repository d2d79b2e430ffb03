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
  quantile) has no single built-in: ``frame_var_cvar`` sorts each row's
  frame once (``collect_list``) and derives both the quantile and the tail
  mean from that array — one window, no self-join (SURVEY.md §7.4.1).
- stress_test: shocks -> pnl = shock * position             (:124-143)
- impermanent loss closed form over a ratio grid            (:158-204)

Scale note: global-ordered windows are single-task; pass partition_col for
the partitioned variant. The frame array holds `window` values per row —
linear in rows, and the only shuffle is the window's own partitioning.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, WindowSpec
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


def frame_var_cvar(
    rows: DataFrame,
    value_col: str,
    frames: Mapping[str, WindowSpec],
    confidence: float = 0.95,
) -> DataFrame:
    """Adds, per frame name ``f``: ``f_n`` (non-null values in the row's
    frame), ``f_q`` (their ``percentile`` at 1 - confidence) and ``f_tail``
    (the mean of the frame values <= ``f_q``; NULL for an empty frame).

    Each frame is sorted once into an array; the quantile is Spark
    ``Percentile``'s own interpolation over it — position (n-1)*p,
    ``(hi-pos)*a + (pos-lo)*b``, and ``a`` itself when the position is
    integral or both keys are equal — and the tail mean reads the same
    array. Every step selects from the columns the step before projected:
    inlining the window into each higher-order function re-evaluates it
    per use."""
    p = f"{1 - confidence!r}D"
    out = rows.select("*", *[
        F.sort_array(F.collect_list(value_col).over(w)).alias(f"_{f}_sorted")
        for f, w in frames.items()])

    def quantile(f: str) -> str:
        srt, pos = f"_{f}_sorted", f"((size(_{f}_sorted) - 1) * {p})"
        lo, hi = f"floor({pos})", f"ceil({pos})"
        a, b = f"get({srt}, {lo})", f"get({srt}, {hi})"
        return (f"CASE WHEN {hi} = {lo} OR {a} = {b} THEN {a} "
                f"ELSE ({hi} - {pos}) * {a} + ({pos} - {lo}) * {b} END AS {f}_q")

    out = out.selectExpr("*", *[e for f in frames for e in (
        f"size(_{f}_sorted) AS {f}_n", quantile(f))])
    out = out.selectExpr("*", *[
        f"filter(_{f}_sorted, x -> x <= {f}_q) AS _{f}_tail" for f in frames])
    return out.select(
        *rows.columns, *[c for f in frames for c in (f"{f}_n", f"{f}_q")],
        *[F.expr(f"try_divide(aggregate(_{f}_tail, 0D, (acc, x) -> acc + x), "
                 f"size(_{f}_tail)) AS {f}_tail") for f in frames])


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
    rows emit (idx, var, cvar). ``idx_col`` must be a unique orderable key.

    ``partition_col=None`` reproduces the reference's single global series:
    one sort task — the documented W3 scale bottleneck (SURVEY.md §7.4.1),
    kept for reference parity. Passing a series key computes independent
    per-series windows (resetting at boundaries) that sort within
    partitions in parallel. That is the 100 TB shape.
    """
    pw = Window.partitionBy(partition_col) if partition_col else Window
    w = pw.orderBy(idx_col).rowsBetween(-window, -1)
    out = frame_var_cvar(returns, value_col, {"w": w}, confidence)
    return out.where(F.col("w_n") == window).select(
        *([partition_col] if partition_col else []), idx_col,
        (-F.col("w_q") * position_size).alias("var"),
        (-F.col("w_tail") * position_size).alias("cvar"),
    )


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
