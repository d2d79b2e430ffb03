"""``registry.cents``: exact long cents over a column name or SQL text."""

from __future__ import annotations

from defi_etl_platform_sqlglot_implementation__spark.registry import cents, cents_sql
from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import local_frame


def test_cents_scales_a_compound_expression_as_a_whole(spark):
    df = local_frame(spark, [(10.25, 0.07), (0.1, 0.2), (-3.5, 0.0)],
                     "price double, tax double")
    got = df.select(cents("price"), cents("price + tax"),
                    cents("least(price, tax)")).collect()
    assert [tuple(r) for r in got] == [(1025, 1032, 7), (10, 30, 10), (-350, -350, -350)]
    assert [r[0] for r in df.selectExpr(cents_sql("price + tax")).collect()] == [1032, 30, -350]
