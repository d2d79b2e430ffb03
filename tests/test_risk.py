"""Risk-model invariants (reference tests :253-323) + exact numpy parity."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.operators.risk import (
    frame_var_cvar,
    il_scan,
    rolling_var,
    rolling_var_cvar,
    stress_test,
    var_cvar,
)


def _returns_df(spark, n=252, seed=42):
    rng = np.random.default_rng(seed)
    r = rng.normal(0.001, 0.03, n)
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(r)], ["i", "r"]
    )
    return df, r


class TestVaR:
    def test_compute_matches_numpy(self, spark):
        df, r = _returns_df(spark)
        row = var_cvar(df, confidence=0.95, position_size=1_000_000).collect()[0]
        q = np.quantile(r, 0.05)
        assert row["var"] == pytest.approx(-q * 1_000_000, rel=1e-12)
        assert row["cvar"] == pytest.approx(-r[r <= q].mean() * 1_000_000, rel=1e-12)
        assert row["returns_used"] == 252

    def test_cvar_geq_var(self, spark):
        df, _ = _returns_df(spark)
        row = var_cvar(df, confidence=0.95).collect()[0]
        assert row["var"] > 0
        assert row["cvar"] >= row["var"]

    def test_higher_confidence_higher_var(self, spark):
        df, _ = _returns_df(spark)
        v95 = var_cvar(df, confidence=0.95).collect()[0]["var"]
        v99 = var_cvar(df, confidence=0.99).collect()[0]["var"]
        assert v99 >= v95

    def test_sqrt_of_time_scaling(self, spark):
        df, _ = _returns_df(spark)
        v1 = var_cvar(df, horizon_days=1).collect()[0]["var"]
        v10 = var_cvar(df, horizon_days=10).collect()[0]["var"]
        assert v10 == pytest.approx(v1 * np.sqrt(10), rel=1e-12)

    def test_rolling_var_series(self, spark):
        df, r = _returns_df(spark, n=100)
        out = rolling_var(df, order_cols=["i"], window=30, confidence=0.95)
        rows = sorted(out.collect(), key=lambda x: x["i"])
        assert len(rows) == 100
        # min_periods = 15: first 14 rows NULL
        assert all(rows[i]["rolling_var"] is None for i in range(14))
        assert all(rows[i]["rolling_var"] is not None for i in range(14, 100))
        # spot-check exactness vs numpy on a full window
        window_vals = r[70 - 29 : 71]
        want = -np.quantile(window_vals, 0.05) * 1_000_000
        assert rows[70]["rolling_var"] == pytest.approx(want, rel=1e-12)

    def test_rolling_var_cvar_excludes_current(self, spark):
        df, r = _returns_df(spark, n=90)
        out = rolling_var_cvar(df, idx_col="i", window=30, confidence=0.95,
                               position_size=1.0)
        rows = {x["i"]: x for x in out.collect()}
        assert set(rows) == set(range(30, 90))
        # parity with the reference's loop (data_service.py:141-150)
        for i in (30, 57, 89):
            w = r[i - 30 : i]
            q = np.quantile(w, 0.05)
            assert rows[i]["var"] == pytest.approx(-q, rel=1e-12)
            assert rows[i]["cvar"] == pytest.approx(-w[w <= q].mean(), rel=1e-12)

    def test_frame_quantile_is_spark_percentile(self, spark):
        # few distinct values make equal keys at the interpolation
        # positions; each is one whose two-key interpolation at the 0.95
        # position is not the value itself, so only Percentile's equal-key
        # shortcut returns it exactly
        rng = np.random.default_rng(3)
        pos = 29 * (1 - 0.95)
        lo, hi = np.floor(pos), np.ceil(pos)
        pool = [x for x in rng.normal(0, 0.03, 2000) if (hi - pos) * x + (pos - lo) * x != x]
        vals = rng.choice(pool[:6], 400)
        df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(vals)], ["i", "r"])
        w = Window.orderBy("i").rowsBetween(-30, -1)
        for conf in (0.95, 0.9, 0.5):
            got = sorted(frame_var_cvar(df, "r", {"w": w}, conf).withColumn(
                "want", F.expr(f"percentile(r, {1 - conf})").over(w)).collect(),
                key=lambda r: r["i"])
            assert all(r["w_q"] == r["want"] for r in got)
            for r in got[31::37]:
                frame = vals[r["i"] - 30: r["i"]]
                assert r["w_tail"] == pytest.approx(frame[frame <= r["w_q"]].mean(), rel=1e-12)

    def test_stress_test(self, spark):
        out = stress_test(spark, [-0.10, -0.30, -0.50], position_size=1_000_000)
        rows = sorted(out.collect(), key=lambda x: -x["shock_pct"])
        assert len(rows) == 3
        assert rows[0]["pnl_usd"] > rows[-1]["pnl_usd"]
        assert rows[0]["position_remaining"] == 900_000.0


class TestImpermanentLoss:
    def test_no_il_at_unity(self, spark):
        row = il_scan(spark, ratios=[1.0]).collect()[0]
        assert abs(row["il_pct"]) < 1e-9

    def test_il_negative_on_move_and_monotone(self, spark):
        rows = {r["price_ratio"]: r for r in il_scan(spark, ratios=[2.0, 5.0]).collect()}
        assert rows[2.0]["il_pct"] < 0
        assert rows[5.0]["il_pct"] < rows[2.0]["il_pct"]

    def test_default_scan_has_unity_point(self, spark):
        df = il_scan(spark, price_entry=1000.0)
        assert df.filter(F.col("price_ratio") == 1.0).count() == 1
        assert df.count() == 9

    def test_half_double_symmetry(self, spark):
        rows = {r["price_ratio"]: r for r in il_scan(spark, ratios=[0.5, 2.0]).collect()}
        assert abs(rows[0.5]["il_pct"]) == pytest.approx(abs(rows[2.0]["il_pct"]), rel=0.05)

    def test_closed_form_values(self, spark):
        # r=4: lp_rel = 2*2/5 = 0.8 -> il = -20%
        row = il_scan(spark, ratios=[4.0], initial_usd=10_000).collect()[0]
        assert row["il_pct"] == pytest.approx(-20.0, rel=1e-12)
        assert row["lp_value"] == pytest.approx(8_000.0, rel=1e-12)
        assert row["hold_value"] == pytest.approx(25_000.0, rel=1e-12)
