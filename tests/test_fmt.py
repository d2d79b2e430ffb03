"""``registry.fmt``: the inline JVM ``%.6e`` equals Python's correctly
rounded ``f"{v:.6e}"`` (DuckDB's printf rounds the same way) on every value
class where Java's HALF_UP ``format_string`` could differ, and takes no
Python worker."""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from defi_etl_platform_sqlglot_implementation__spark.registry import fmt
from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import local_frame


def _battery() -> np.ndarray:
    """About 510k doubles and their negations, shuffled: near-ties at every
    decimal exponent with their +-1-ulp neighbours, exact ties, powers of 2
    and of 10 with their neighbours, subnormals, random bit patterns and
    the specials."""
    rng = np.random.default_rng(20261020)
    parts = []
    # the double nearest m * 10**(e-7) for an 8-digit m ending in 5: a
    # 7-digit rounding tie, at every decimal exponent of the double range
    m = rng.integers(1_000_000, 10_000_000, size=(616, 100)) * 10 + 5
    near = np.array([float(f"{k}e{e - 7}") for e, row in zip(range(-307, 309), m)
                     for k in row.tolist()])
    parts += [near, np.nextafter(near, np.inf), np.nextafter(near, -np.inf)]
    # exact ties: an 8-digit N ending in 5 over 10**j is r / 2**j when
    # N = r * 5**j with r odd, and N * 10**q is an integer
    ties = []
    for j in range(12):
        lo, hi = -(-10 ** 7 // 5 ** j), (10 ** 8 - 1) // 5 ** j
        ties += [float(Fraction(k, 2 ** j)) for k in
                 (rng.integers(lo, hi + 1, size=300) | 1).tolist() if k <= hi]
    ties += [float(int(k) * 10 ** q) for q in range(1, 10)
             for k in rng.integers(1_000_000, 10_000_000, size=300) * 10 + 5]
    parts.append(np.array(ties))
    p2 = np.ldexp(1.0, np.arange(-1074, 1024))
    p10 = np.array([float(f"1e{e}") for e in range(-323, 309)])
    parts += [p2, p10, np.nextafter(p10, np.inf), np.nextafter(p10, -np.inf)]
    bits = rng.integers(0, 2 ** 52, size=10_000, dtype=np.int64)
    parts.append(bits.view(np.float64))                                   # subnormals
    bits = rng.integers(-(2 ** 63), 2 ** 63 - 1, size=300_000, dtype=np.int64)
    parts.append(bits.view(np.float64))                                   # anything
    parts.append(np.array([0.0, np.nan, np.inf, -np.inf, 5e-324, 2.2250738585072014e-308,
                           1.7976931348623157e308, 38307365.0, 0.5, 1.0]))
    v = np.concatenate(parts)
    return rng.permutation(np.concatenate([v, -v]))


def test_fmt_is_python_half_even_exact(spark, tmp_path):
    v = _battery()
    assert len(v) >= 1_000_000
    want = [None if x != x else f"{x:.6e}" for x in v.tolist()]
    path = str(tmp_path / "battery.parquet")
    pq.write_table(pa.table({"v": v, "want": want}), path, row_group_size=1 << 16)
    df = spark.read.parquet(path)
    bad = df.select(fmt("v"), "want").where("NOT (v <=> want)")
    assert bad.count() == 0, bad.limit(5).collect()


def test_fmt_specials_and_names(spark):
    rows = [(float("nan"),), (None,), (float("inf"),), (float("-inf"),), (-0.0,), (0.0,)]
    df = local_frame(spark, rows, "`my col` double")
    got = [r[0] for r in df.select(fmt("my col")).collect()]
    assert got == [None, None, "inf", "-inf", "-0.000000e+00", "0.000000e+00"]
    assert df.select(fmt("my col")).columns == ["my col"]
    plan = df.select(fmt("my col"))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
