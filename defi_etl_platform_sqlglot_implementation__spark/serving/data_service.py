"""Serving layer: the four chart endpoints (reference api/data_service.py),
computed with the Spark operators and collected/shaped at the driver edge.

Each method is a parameterized DataFrame query over fixture inputs,
``collect()``-ed into the exact JSON dict contracts the reference frontend
consumes (frontend.html:1150/1230/1305/1356). The synthetic generators
mirror the reference's seeded builders (data_service.py:25-107) — input
fabrication stays driver-side NumPy (SURVEY.md §2.8 F21); all analytics run
through Spark.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.keccak import ERC20_TRANSFER_TOPIC
from ..operators.mev import mev_scores
from ..operators.risk import frame_var_cvar, il_scan, stress_test
from ..operators.transfers import decode_transfers
from ..pipeline import lift_transactions
from ..sources.bronze import local_frame, parse_raw_events

TOKEN_CONTRACTS = [
    "0xA0b86991c6218b36c1d19D4a2e9Eb0cE3606eB48",  # USDC
    "0xdAC17F958D2ee523a2206206994597C13D831ec7",  # USDT
    "0x6B175474E89094C44Da98b954EedeAC495271d0F",  # DAI
    "0xC02aaA39b223FE8D0A0e5C4F27eAD9083C756Cc2",  # WETH
]
NFT_CONTRACTS = [
    "0xBC4CA0EdA7647A8aB7C2061c2E118A18a936f13D",  # BAYC
    "0x60E4d786628Fea6478F785A6d7e704777c86a7c6",  # MAYC
]


def make_synthetic_transfer_messages(n: int = 200, base_ts: int | None = None) -> list[str]:
    """Seed-42 transfer stream (reference data_service.py:25-75)."""
    rng = np.random.default_rng(42)
    base_ts = base_ts if base_ts is not None else int(time.time()) - 86400
    messages = []
    for i in range(n):
        hour_offset = int(i / (n / 24))
        ts = base_ts + hour_offset * 3600 + int(rng.integers(0, 3600))
        is_nft = rng.random() < 0.15
        contract = str(rng.choice(NFT_CONTRACTS if is_nft else TOKEN_CONTRACTS))
        topics = [
            ERC20_TRANSFER_TOPIC,
            "0x" + "a" * 63 + hex(int(rng.integers(0, 16)))[2:],
            "0x" + "b" * 63 + hex(int(rng.integers(0, 16)))[2:],
        ]
        if is_nft:
            topics.append("0x" + "0" * 63 + "1")
        amount = int(rng.uniform(100, 100_000) * 1e18)
        messages.append(json.dumps({
            "chain_id": 1,
            "network": "ethereum-mainnet",
            "block_number": 19_000_000 + i * 10,
            "block_timestamp": int(ts),
            "event_type": "token_transfer",
            "payload": {
                "tx_hash": "0x" + "c" * 64,
                "log_index": i,
                "contract": contract,
                "topics": topics,
                "data": hex(amount),
            },
            "ingested_at": time.time(),
        }))
    return messages


def tx_block_number(i: int) -> int:
    """Block of the i-th synthetic transaction: three per block."""
    return 19_000_000 + (i // 3) * 10


def make_synthetic_tx_messages(n: int = 100) -> list[str]:
    """Seed-7 MEV-spiked transactions (reference data_service.py:78-107)."""
    rng = np.random.default_rng(7)
    messages = []
    now = int(time.time())
    for i in range(n):
        is_mev_block = i % 12 == 0
        gas_price = rng.uniform(200, 500) if is_mev_block else rng.uniform(15, 80)
        messages.append(json.dumps({
            "chain_id": 1,
            "network": "ethereum-mainnet",
            "block_number": tx_block_number(i),
            "block_timestamp": now - (n - i) * 12,
            "event_type": "transaction",
            "payload": {
                "hash": "0x" + "d" * 64,
                "from": "0x" + "a" * 40,
                "to": "0x" + "b" * 40,
                "value_wei": str(int(rng.uniform(0, 5) * 1e18)),
                "gas": 21000,
                "gas_price": str(int(gas_price * 1e9)),
                "nonce": i,
                "input": "0xa9059cbb" + "0" * 56,
            },
            "ingested_at": time.time(),
        }))
    return messages


class DataService:
    """Chart-endpoint computations over the Spark engine."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def _local(self, rows: list[tuple], schema: str):
        # a route's fixture is a few hundred rows: one partition, so the
        # route's window or aggregate over it needs no shuffle
        return local_frame(self.spark, rows, schema).coalesce(1)

    def _events(self, messages: list[str]):
        return parse_raw_events(self._local([(m,) for m in messages], "value string"))

    # -- /api/var (reference data_service.py:118-170) -----------------------

    def get_var_data(self, position_size: float = 1_000_000.0) -> dict:
        rng = np.random.default_rng(42)
        n, window = 90, 30
        daily_returns = rng.normal(0.001, 0.032, n)
        prices = []
        p = 2200.0
        for r in daily_returns:
            p *= 1 + r
            prices.append(p)

        import datetime

        labels = [
            (datetime.date(2024, 1, 1) + datetime.timedelta(days=i)).strftime("%b %d")
            for i in range(n)
        ]

        returns_df = self._local([(i, float(r)) for i, r in enumerate(daily_returns)],
                                 "i long, r double")
        # one plan: each row's trailing window and the whole series
        order = Window.orderBy("i")
        rows = sorted(frame_var_cvar(returns_df, "r", {
            "roll": order.rowsBetween(-window, -1),
            "all": order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing),
        }, confidence=0.95).collect(), key=lambda r: r["i"])
        full = [r["roll_n"] == window for r in rows]
        var_series = [round(-r["roll_q"] * position_size, 2) if f else None
                      for r, f in zip(rows, full)]
        cvar_series = [round(-r["roll_tail"] * position_size, 2) if f else None
                       for r, f in zip(rows, full)]
        summary = rows[0]  # the whole-series frame reads the same on every row
        stress = stress_test(self.spark, [-0.10, -0.20, -0.30, -0.50],
                             position_size=position_size)

        return {
            "labels": labels,
            "prices": [round(p, 2) for p in prices],
            "var_series": var_series,
            "cvar_series": cvar_series,
            "summary": {
                "var_95": round(-summary["all_q"] * position_size, 2),
                "cvar_95": round(-summary["all_tail"] * position_size, 2),
                "position_usd": position_size,
                "returns_used": summary["all_n"],
                "method": "historical_simulation",
            },
            "stress_test": [r.asDict() for r in stress.collect()],
        }

    # -- /api/il (reference data_service.py:174-206) ------------------------

    def get_il_data(self, initial_usd: float = 10_000.0) -> dict:
        ratios = [round(r * 0.05, 2) for r in range(2, 101)]
        df = il_scan(self.spark, price_entry=2000.0, initial_usd=initial_usd,
                     ratios=ratios)
        rows = sorted(df.collect(), key=lambda r: r["price_ratio"])

        key_points = {}
        for ratio in [0.5, 1.0, 2.0, 3.0, 5.0]:
            match = [r for r in rows if round(r["price_ratio"], 2) == ratio]
            if match:
                r = match[0]
                key_points[f"{ratio}x"] = {
                    "il_pct": round(r["il_pct"], 2),
                    "lp_value": round(r["lp_value"], 2),
                    "loss_usd": round(r["loss_usd"], 2),
                }

        return {
            "labels": [f"{round(r['price_ratio'], 2)}x" for r in rows],
            "il_pct": [round(r["il_pct"], 3) for r in rows],
            "lp_values": [round(r["lp_value"], 2) for r in rows],
            "hold_values": [round(r["hold_value"], 2) for r in rows],
            "key_points": key_points,
            "config": {
                "entry_price": 2000.0,
                "initial_usd": initial_usd,
                "protocol": "Uniswap V2 (x*y=k)",
            },
        }

    # -- /api/mev (reference data_service.py:210-261) -----------------------

    def get_mev_data(self) -> dict:
        n = 120
        events = self._events(make_synthetic_tx_messages(n=n))
        # only the two columns mev_scores reads: engineer_transactions'
        # gas_price_gwei, without its rolling gas_p90 kernel, which
        # Catalyst cannot prune
        tx = lift_transactions(events).selectExpr(
            "block_number", "CAST(gas_price AS DOUBLE) / 1e9 AS gas_price_gwei")

        # the swap fixture covers the tx fixture's blocks
        block_nums = sorted({tx_block_number(i) for i in range(n)})
        rng = np.random.default_rng(7)
        swap_rows = []
        for b in block_nums:
            for _ in range(int(rng.integers(1, 5))):
                swap_rows.append((b, str(rng.choice(["0xpool1", "0xpool2", "0xpool3"]))))
        swaps = self._local(swap_rows, "block_number long, pool string")

        # the bounded result is sorted on the driver: a Spark orderBy
        # adds a range-partition sampling job per collect
        scores = sorted(mev_scores(tx, swaps).collect(), key=lambda r: r["block_number"])[-48:]
        if not scores:
            return {"blocks": [], "scores": [], "colors": [], "summary": {}}

        def score_color(s: float) -> str:
            if s > 66:
                return "rgba(252,129,129,0.75)"
            if s > 33:
                return "rgba(246,173,85,0.75)"
            return "rgba(104,211,145,0.75)"

        mev_vals = [r["mev_score"] for r in scores]
        return {
            "blocks": [f"#{int(r['block_number'])}" for r in scores],
            "scores": [round(float(s), 1) for s in mev_vals],
            "sandwich": [round(float(r["sandwich_risk"]), 1) for r in scores],
            "frontrun": [round(float(r["frontrun_risk"]), 1) for r in scores],
            "backrun": [int(r["backrun_opportunities"]) for r in scores],
            "colors": [score_color(s) for s in mev_vals],
            "summary": {
                "avg_score": round(float(np.mean(mev_vals)), 1),
                "max_score": round(float(np.max(mev_vals)), 1),
                "high_risk_blocks": int(sum(1 for s in mev_vals if s > 66)),
                "blocks_analyzed": len(scores),
            },
        }

    # -- /api/transfers (reference data_service.py:265-318) -----------------

    def get_transfer_data(self) -> dict:
        events = self._events(make_synthetic_transfer_messages(n=200))
        # one bounded aggregate (hours x standards x contracts: at most
        # 24 x 2 x 6 rows) carries the whole payload; the hourly series,
        # the top contracts and the summary are folded on the driver.
        # Catalyst prunes the columns it does not read, so the plan
        # evaluates only the amount decode.
        groups = (
            decode_transfers(events)
            .groupBy(F.expr("date_trunc('hour', block_timestamp) AS hour"), "standard", "contract")
            .agg(F.expr("sum(amount) AS volume"), F.expr("count(tx_hash) AS count"),
                 F.expr("count(*) AS rows"))
            .collect()
        )

        all_hours = sorted({r["hour"] for r in groups})
        erc20_vol = defaultdict(float)
        erc721_cnt = Counter()
        contract_vol = defaultdict(float)
        per_standard = Counter()
        for r in groups:
            per_standard[r["standard"]] += r["rows"]
            if r["standard"] == "ERC-20":
                # Spark's sum skips nulls
                erc20_vol[r["hour"]] += r["volume"] or 0.0
                contract_vol[r["contract"]] += r["volume"] or 0.0
            elif r["standard"] == "ERC-721":
                erc721_cnt[r["hour"]] += r["count"]
        top = sorted(contract_vol.items(), key=lambda kv: -kv[1])[:4]

        return {
            "labels": [h.strftime("%H:%M") for h in all_hours],
            "erc20_vol": [
                round(erc20_vol[h] / 1e18, 2) if h in erc20_vol else 0
                for h in all_hours
            ],
            "erc721_cnt": [erc721_cnt[h] for h in all_hours],
            "summary": {
                "total_transfers": sum(per_standard.values()),
                "erc20_transfers": per_standard["ERC-20"],
                "erc721_transfers": per_standard["ERC-721"],
                # countDistinct ignores null contracts
                "unique_contracts": len({r["contract"] for r in groups} - {None}),
                "total_volume_eth": round(sum(contract_vol.values()) / 1e18, 2),
            },
            "top_contracts": [
                {"contract": contract[:10] + "...",
                 "volume_eth": round(volume / 1e18, 2)}
                for contract, volume in top
            ],
        }
