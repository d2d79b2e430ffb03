"""Driver-local rows enter plans through ``sources.bronze.local_frame``:
a JVM LocalRelation, so no scan starts a Python worker."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from defi_etl_platform_sqlglot_implementation__spark.serving.data_service import DataService
from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import local_frame

SCHEMA = "l long, i int, d double, s string, a array<double>"
STRUCT = StructType([
    StructField("l", LongType()), StructField("i", IntegerType()),
    StructField("d", DoubleType()), StructField("s", StringType()),
    StructField("a", ArrayType(DoubleType())),
])
ROWS = [
    (1, 2, 0.5, "x", [1.0, -2.5]),
    (-(2**63), 2**31 - 1, -1e308, "", []),
    (2**63 - 1, -(2**31), 1e-300, "ünïcode", [None, 3.0]),
    (None, None, None, None, None),
]


@pytest.mark.parametrize("schema", [SCHEMA, STRUCT], ids=["ddl", "struct"])
def test_local_frame_equals_the_list_form(spark, schema):
    got, ref = local_frame(spark, ROWS, schema), spark.createDataFrame(ROWS, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_no_rows_keep_the_schema(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == STRUCT
    assert df.collect() == []


def test_rows_of_the_wrong_width_fail(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a long")


def _leaves(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString() + qe.sparkPlan().toString()


@pytest.mark.parametrize("route", ["get_var_data", "get_il_data", "get_mev_data",
                                   "get_transfer_data"])
def test_serving_plans_have_no_python_rdd_leaf(spark, monkeypatch, route):
    plans, cls = [], type(spark.range(1))  # the session's concrete DataFrame
    collect = cls.collect

    def spy(self):
        plans.append(_leaves(self))
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    getattr(DataService(spark), route)()
    assert plans
    for plan in plans:
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_il_route_runs_no_job(spark):
    svc, sc = DataService(spark), spark.sparkContext
    svc.get_il_data()  # warm
    sc.setJobGroup("il-jobs", "il route")
    try:
        svc.get_il_data()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("il-jobs")) == []
