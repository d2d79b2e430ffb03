"""Skew / scale helpers (SCALE.md): salting, partitioned windows.

These are the 100 TB counterparts of operators whose reference-parity form
is global: result-identical (proven against the same oracle), different
physical shape.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..worker import install_zip_stamps


def salted_group_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    agg_exprs: dict[str, Column],
    salt_col: Column,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: shuffle on (key, salt) first
    so one hot key spreads over `salt_buckets` reducers, then combine.

    ``agg_exprs`` maps output name -> phase-1 aggregate; phase 2 re-combines
    with the decomposable counterpart (sum for sum/count, max for max,
    min for min). Exact for decomposable aggregates (sums of integral
    doubles stay exact; float sums re-associate — same caveat as any
    distributed sum).
    """
    salted = df.withColumn("_salt", F.pmod(F.hash(salt_col), F.lit(salt_buckets)))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[expr.alias(f"_p1_{name}") for name, expr in agg_exprs.items()]
    )
    recombine = {
        "sum": F.sum, "count": F.sum, "max": F.max, "min": F.min,
    }

    def combiner(name: str) -> Column:
        kind = name.split("_", 1)[0] if name.split("_", 1)[0] in recombine else "sum"
        return recombine[kind](f"_p1_{name}").alias(name)

    return phase1.groupBy(*key_cols).agg(
        *[combiner(name) for name in agg_exprs]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key_cols: Sequence[str],
    salt_source: Column,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating equi-join, result-identical to ``big.join(small,
    key_cols, how)`` for inner/left joins.

    A hot join key sends all its rows to one reducer; salting splits them:
    the big side gains a deterministic salt (hash of ``salt_source``, e.g.
    a unique row id — NOT the join key), the small side is replicated
    across all ``salt_buckets`` salt values, and the join runs on
    (key, salt) — so one hot key spreads over ``salt_buckets`` tasks at
    the cost of a ``salt_buckets``× blow-up of the SMALL side only. Use
    when the small side is too big to broadcast outright but its
    replication is still cheaper than the skewed straggler; AQE's
    skew-join split is the first resort, this is the explicit fallback.

    Only inner/left joins are result-identical: a right or full join
    would emit every unmatched small-side row once PER SALT VALUE
    (``salt_buckets`` duplicates), so those types are rejected.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): an outer "
            f"small side would duplicate unmatched rows per salt value"
        )
    clash = [side for side, df in (("big", big), ("small", small))
             if "_salt" in df.columns]
    if clash:
        raise ValueError(
            f"salted_join: input(s) {clash} already carry a '_salt' column; "
            f"it would be silently overwritten and dropped — rename it first"
        )
    keys = list(key_cols)
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_source), F.lit(salt_buckets))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))  # match pmod's long
    return big_s.join(small_s, keys + ["_salt"], how).drop("_salt")


def _rolling_apply(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out: str,
    partition_col: Column | None,
    rolling: Callable[[np.ndarray], np.ndarray],
) -> DataFrame:
    """Adds ``out = rolling(values in order)`` computed by one pandas
    kernel over the whole frame or, with ``partition_col``, one kernel per
    partition in parallel (windows reset at boundaries)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    # StructType.add MUTATES (and returns) the DataFrame's cached schema
    # object — build fresh copies instead.
    def extend(base: StructType) -> StructType:
        return StructType(list(base.fields) + [StructField(out, DoubleType())])

    schema = df.schema
    order = list(order_cols)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order, kind="mergesort")
        pdf[out] = rolling(pdf[value_col].to_numpy(dtype="float64"))
        return pdf

    if partition_col is None:
        def fn(batches):
            install_zip_stamps()
            parts = [b for b in batches]
            if not parts:
                return
            yield kernel(pd.concat(parts, ignore_index=True))

        return df.repartition(1).mapInPandas(fn, extend(schema))

    def per_part(pdf: "pd.DataFrame") -> "pd.DataFrame":
        install_zip_stamps()
        return kernel(pdf)

    tagged = df.withColumn("_part", partition_col)
    out_df = tagged.groupBy("_part").applyInPandas(per_part, extend(tagged.schema))
    return out_df.select(*schema.fieldNames(), out)


def rolling_quantile_exact(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    p: float,
    window_rows: int,
    out: str = "rolling_pct",
    min_periods: int = 1,
    partition_col: Column | None = None,
) -> DataFrame:
    """Exact trailing rows-frame quantile via a NumPy kernel.

    Interpolates ``a*(1-t) + b*t`` between the bracketing order statistics
    ``a <= b``: DuckDB ``quantile_cont``'s formula, which the
    ``rolling_p90`` oracles use.  It is not bit-identical to Spark
    ``percentile``, which returns ``a`` itself when the two keys are
    equal; ``a*(1-t) + a*t`` is one ulp off ``a`` for 5.0% of 100k uniform
    doubles at p 0.9 over 100 rows.  pandas/numpy compute
    ``a + (b-a)*t`` instead (``rolling_quantile_pandas`` is that twin);
    the formulas differ by an ulp on occasional ties, enough to flip a
    %.6e digit.

    The kernel stays in Python because the JVM forms are slower: the
    percentile window re-aggregates the full frame per row (no
    retraction) -- O(n·w) with a large constant and, when unpartitioned,
    in ONE task -- and a sliding ``sort_array(collect_list)`` frame that
    matched this kernel bit for bit measured 3x slower at 150k rows and
    6x slower at 1.5M (4-core host, ``local[4]``).

    ``partition_col=None`` reproduces the reference's single global order
    (repartition(1) — the documented W1 scale bottleneck, SURVEY.md
    §7.4.5); passing a coarse key runs one pandas kernel per partition in
    parallel — the 100 TB shape, with windows resetting at boundaries.
    """

    def rolling_q(vals: np.ndarray) -> np.ndarray:
        n = vals.size
        res = np.full(n, np.nan)

        def interp(sorted_win: np.ndarray) -> float:
            m = sorted_win.size
            pos = p * (m - 1)
            k = int(np.floor(pos))
            t = pos - k
            a = sorted_win[k]
            b = sorted_win[min(k + 1, m - 1)]
            return a * (1.0 - t) + b * t

        for i in range(min(window_rows - 1, n)):  # short head frames
            if i + 1 >= min_periods:
                res[i] = interp(np.sort(vals[: i + 1]))
        if n >= window_rows:
            sw = np.lib.stride_tricks.sliding_window_view(vals, window_rows)
            pos = p * (window_rows - 1)
            k = int(np.floor(pos))
            t = pos - k
            chunk = max(1, (1 << 23) // window_rows)  # ~64 MB sorted blocks
            for s0 in range(0, sw.shape[0], chunk):
                blk = np.sort(sw[s0:s0 + chunk], axis=1)
                a = blk[:, k]
                b = blk[:, min(k + 1, window_rows - 1)]
                res[window_rows - 1 + s0: window_rows - 1 + s0 + blk.shape[0]] = (
                    a * (1.0 - t) + b * t
                )
        return res

    return _rolling_apply(df, order_cols, value_col, out, partition_col, rolling_q)


def rolling_quantile_pandas(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    p: float,
    window_rows: int,
    out: str = "rolling_pct",
    partition_col: Column | None = None,
) -> DataFrame:
    """``rolling(window_rows, min_periods=1).quantile(p)`` — pandas' own
    kernel (a sliding skiplist, O(n log w)) and so pandas' own rule: ``a``
    at an integral position, else ``a + (b-a)*t``. That can be a different
    double from ``rolling_quantile_exact``'s ``a*(1-t) + b*t`` (DuckDB's
    ``quantile_cont`` rule), e.g. when ``a == b``; callers whose contract
    is the pandas reference use this one."""
    import pandas as pd

    def rolling_q(vals: np.ndarray) -> np.ndarray:
        return (pd.Series(vals).rolling(window_rows, min_periods=1)
                .quantile(p, interpolation="linear").to_numpy())

    return _rolling_apply(df, order_cols, value_col, out, partition_col, rolling_q)


def partitioned_rolling_percentile(
    df: DataFrame,
    partition_col: Column,
    order_cols: Sequence[str],
    value_col: str,
    p: float,
    window_rows: int,
    out: str = "rolling_pct",
) -> DataFrame:
    """The partitioned variant of the global rolling percentile (W1):
    windows reset at partition boundaries — the documented semantic
    difference that buys parallelism at scale (SCALE.md §Windows)."""
    return rolling_quantile_exact(
        df, order_cols, value_col, p, window_rows, out=out,
        partition_col=partition_col,
    )
