"""Serving layer: the four chart endpoints' JSON contracts
(reference api/data_service.py + server.py)."""

import json
import types
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.serving import data_service
from defi_etl_platform_sqlglot_implementation__spark.serving.data_service import DataService
from defi_etl_platform_sqlglot_implementation__spark.serving.server import wsgi_app

# Route payloads captured at commit 63e24c1, before driver-local rows moved
# from createDataFrame(<list>) to local_frame; /api/transfers keeps only the
# fields that do not follow the wall clock.
GOLDEN = json.loads(Path(__file__).with_name("serving_golden.json").read_text())


def _json(payload):
    return json.loads(json.dumps(payload))


class TestVarEndpoint:
    def test_shape_and_invariants(self, spark):
        d = DataService(spark).get_var_data()
        assert len(d["labels"]) == 90
        assert len(d["prices"]) == 90
        assert d["var_series"][:30] == [None] * 30
        assert all(v is not None for v in d["var_series"][30:])
        assert d["summary"]["cvar_95"] >= d["summary"]["var_95"] > 0
        assert d["summary"]["returns_used"] == 90
        assert len(d["stress_test"]) == 4
        pnls = [r["pnl_usd"] for r in d["stress_test"]]
        assert max(pnls) == -100_000.0  # -10% of 1M


class TestIlEndpoint:
    def test_shape_and_key_points(self, spark):
        d = DataService(spark).get_il_data()
        assert len(d["labels"]) == 99
        assert d["labels"][0] == "0.1x"
        assert set(d["key_points"]) == {"0.5x", "1.0x", "2.0x", "3.0x", "5.0x"}
        assert abs(d["key_points"]["1.0x"]["il_pct"]) < 1e-9
        assert abs(d["key_points"]["2.0x"]["il_pct"] - (-5.72)) < 0.01
        assert d["config"]["protocol"] == "Uniswap V2 (x*y=k)"


class TestMevEndpoint:
    def test_shape_and_ranges(self, spark):
        d = DataService(spark).get_mev_data()
        assert 0 < len(d["blocks"]) <= 48
        assert all(0 <= s <= 100 for s in d["scores"])
        assert len(d["colors"]) == len(d["blocks"])
        assert all(c.startswith("rgba(") for c in d["colors"])
        assert d["summary"]["blocks_analyzed"] == len(d["blocks"])
        assert d["summary"]["max_score"] >= d["summary"]["avg_score"]


class TestTransfersEndpoint:
    def test_shape_and_totals(self, spark):
        d = DataService(spark).get_transfer_data()
        s = d["summary"]
        assert s["total_transfers"] == 200
        assert s["erc20_transfers"] + s["erc721_transfers"] == 200
        assert 1 <= len(d["top_contracts"]) <= 4
        assert len(d["labels"]) == len(d["erc20_vol"]) == len(d["erc721_cnt"])
        vols = [t["volume_eth"] for t in d["top_contracts"]]
        assert vols == sorted(vols, reverse=True)


class TestTransfersCache:
    def test_failed_collect_leaves_nothing_pinned(self, spark, monkeypatch):
        real = data_service.decode_transfers
        monkeypatch.setattr(data_service, "decode_transfers", lambda events: real(events).withColumn(
            "amount", F.raise_error(F.lit("injected")).cast("double")))
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        with pytest.raises(Exception, match="injected"):
            DataService(spark).get_transfer_data()
        assert set(jsc.getPersistentRDDs().keys()) == before


class TestTransfersAggregate:
    def test_runs_at_most_two_jobs(self, spark):
        svc, sc = DataService(spark), spark.sparkContext
        svc.get_transfer_data()  # warm
        sc.setJobGroup("transfers-jobs", "transfers route")
        try:
            svc.get_transfer_data()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("transfers-jobs")) <= 2

    def test_plan_starts_no_python_worker(self, spark, monkeypatch):
        _assert_no_python_worker(spark, monkeypatch, DataService(spark).get_transfer_data)

    def test_payload_equals_the_three_aggregate_form(self, spark, monkeypatch):
        monkeypatch.setattr(data_service, "time",
                            types.SimpleNamespace(time=lambda: 1_700_000_000.0))
        svc = DataService(spark)
        assert _json(svc.get_transfer_data()) == _json(_three_aggregate_transfers(svc))


def _assert_no_python_worker(spark, monkeypatch, route):
    plans, cls = [], type(spark.range(1))  # the session's concrete DataFrame
    collect = cls.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    route()
    assert plans
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_mev_route_plan_starts_no_python_worker(spark, monkeypatch):
    _assert_no_python_worker(spark, monkeypatch, DataService(spark).get_mev_data)


@pytest.mark.parametrize("route", ["get_var_data", "get_mev_data"])
def test_one_plan_route_runs_at_most_two_jobs(spark, route):
    """/api/var and /api/mev each collect one plan with one shuffle."""
    svc, sc = DataService(spark), spark.sparkContext
    getattr(svc, route)()  # warm
    sc.setJobGroup(f"{route}-jobs", route)
    try:
        getattr(svc, route)()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(f"{route}-jobs")) <= 2


def _three_aggregate_transfers(svc):
    """/api/transfers as three aggregates over one decoded frame (hourly
    series, top contracts, summary), each collected on its own: the
    reference form of the single-aggregate route."""
    events = svc._events(data_service.make_synthetic_transfer_messages(n=200))
    df = data_service.decode_transfers(events).withColumn(
        "hour", F.date_trunc("hour", "block_timestamp"))
    hourly = (
        df.groupBy("hour", "standard")
        .agg(F.sum("amount").alias("volume"), F.count("tx_hash").alias("count"))
        .collect()
    )
    top = (
        df.filter(F.col("standard") == "ERC-20")
        .groupBy("contract")
        .agg(F.sum("amount").alias("volume"))
        .orderBy(F.desc("volume"))
        .limit(4)
        .collect()
    )
    summary_row = df.agg(
        F.count("*").alias("total"),
        F.sum((F.col("standard") == "ERC-20").cast("long")).alias("erc20"),
        F.sum((F.col("standard") == "ERC-721").cast("long")).alias("erc721"),
        F.countDistinct("contract").alias("contracts"),
        F.sum(F.when(F.col("standard") == "ERC-20", F.col("amount")).otherwise(0.0)).alias("vol"),
    ).collect()[0]

    erc20 = {r["hour"]: r for r in hourly if r["standard"] == "ERC-20"}
    erc721 = {r["hour"]: r for r in hourly if r["standard"] == "ERC-721"}
    all_hours = sorted({r["hour"] for r in hourly})
    return {
        "labels": [h.strftime("%H:%M") for h in all_hours],
        "erc20_vol": [
            round(float(erc20[h]["volume"]) / 1e18, 2) if h in erc20 else 0
            for h in all_hours
        ],
        "erc721_cnt": [int(erc721[h]["count"]) if h in erc721 else 0 for h in all_hours],
        "summary": {
            "total_transfers": int(summary_row["total"]),
            "erc20_transfers": int(summary_row["erc20"]),
            "erc721_transfers": int(summary_row["erc721"]),
            "unique_contracts": int(summary_row["contracts"]),
            "total_volume_eth": round(float(summary_row["vol"]) / 1e18, 2),
        },
        "top_contracts": [
            {"contract": r["contract"][:10] + "...",
             "volume_eth": round(float(r["volume"]) / 1e18, 2)}
            for r in top
        ],
    }


class TestGoldenPayloads:
    def test_payloads_equal_the_captured_values(self, spark):
        svc = DataService(spark)
        assert _json(svc.get_var_data()) == GOLDEN["var"]
        assert _json(svc.get_il_data()) == GOLDEN["il"]
        assert _json(svc.get_mev_data()) == GOLDEN["mev"]
        transfers = _json(svc.get_transfer_data())
        assert {k: transfers[k] for k in ("summary", "top_contracts")} == GOLDEN["transfers"]


class TestWsgiEdge:
    def test_routes_serve_json(self, spark):
        app = wsgi_app(spark)
        captured = {}

        def start_response(status, headers):
            captured["status"] = status

        body = b"".join(app({"PATH_INFO": "/api/il"}, start_response))
        assert captured["status"] == "200 OK"
        payload = json.loads(body)
        assert "il_pct" in payload

        body = b"".join(app({"PATH_INFO": "/nope"}, start_response))
        assert captured["status"] == "404 Not Found"

    def test_failing_route_answers_json_500(self, spark, monkeypatch):
        def boom(self):
            raise ValueError("boom")

        monkeypatch.setattr(DataService, "get_mev_data", boom)
        app = wsgi_app(spark)
        captured = {}

        def start_response(status, headers):
            captured.update(status=status, headers=dict(headers))

        body = b"".join(app({"PATH_INFO": "/api/mev"}, start_response))
        assert captured["status"] == "500 Internal Server Error"
        assert captured["headers"]["Content-Type"] == "application/json"
        assert captured["headers"]["Content-Length"] == str(len(body))
        assert json.loads(body) == {"error": "ValueError: boom", "route": "/api/mev"}

        # the other routes keep their status and body
        body = b"".join(app({"PATH_INFO": "/api/il"}, start_response))
        assert captured["status"] == "200 OK"
        assert body == json.dumps(DataService(spark).get_il_data()).encode("utf-8")
