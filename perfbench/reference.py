"""Independent pandas computations of the ETL, canonical SQL and streaming
outputs, used to check the engine's results on every benchmark run.

They are written from the documented semantics (reference decoder rules,
canonical SQL text, Structured Streaming watermark rules), not by calling
the package.
"""

from __future__ import annotations

import json
from functools import lru_cache

import numpy as np
import pandas as pd

from gen import SWAP_TOPIC, TRANSFER_TOPIC, eip55

# addresses repeat (Zipf), so checksum each distinct one once
_eip55 = lru_cache(maxsize=None)(eip55)

SELECTORS = {
    "0xa9059cbb": "ERC20.transfer",
    "0x23b872dd": "ERC20.transferFrom",
    "0x095ea7b3": "ERC20.approve",
    "0x42842e0e": "ERC721.safeTransferFrom",
    "0xf242432a": "ERC1155.safeTransferFrom",
}
TRANSFER_WINDOW_S = 24 * 3600
SWAP_WINDOW_S = 3600
AGG_WATERMARK_S = 600
DEDUP_WATERMARK_S = 3600
DEDUP_KEYS = ("event_type", "block_number", "log_index")


def envelopes(lines: list[str]) -> list[dict]:
    return [json.loads(s) for s in lines]


def _hex_float(h: str | None) -> float:
    if h is None or h in ("", "0x"):
        return 0.0
    return float(int(h, 16))


def transfers(msgs: list[dict], checksum: bool = True) -> pd.DataFrame:
    rows = []
    for m in msgs:
        p = m.get("payload") or {}
        topics = p.get("topics")
        if m.get("event_type") not in ("token_transfer", "log") or not topics:
            continue
        if len(topics) < 3 or topics[0] != TRANSFER_TOPIC:
            continue
        frm, to = "0x" + topics[1][-40:], "0x" + topics[2][-40:]
        if checksum:
            frm, to = _eip55(frm), _eip55(to)
        nft = len(topics) >= 4
        rows.append({
            "standard": "ERC-721" if nft else "ERC-20",
            "contract": p.get("contract"), "from": frm, "to": to,
            "token_id": int(topics[3], 16) if nft else None,
            "amount": 1.0 if nft else _hex_float(p.get("data")),
            "block_number": m["block_number"], "ts": m["block_timestamp"],
            "tx_hash": p.get("tx_hash"), "chain_id": m["chain_id"]})
    return pd.DataFrame(rows)


def swaps(msgs: list[dict]) -> pd.DataFrame:
    rows = []
    for m in msgs:
        p = m.get("payload") or {}
        topics, data = p.get("topics"), p.get("data")
        if not topics or topics[0] != SWAP_TOPIC or data is None or len(data) < 2 + 256:
            continue
        a0i, a1i, a0o, a1o = (float(int(data[2 + 64 * k: 2 + 64 * (k + 1)], 16))
                              for k in range(4))
        if a0i == 0.0 and a1i == 0.0:
            continue
        if a0i != 0.0:
            price = a1o / a0i
        else:
            alt = a0o / a1i
            price = alt if alt != 0.0 else 1.0
        rows.append({"protocol": "uniswap_v2", "pool": p.get("contract"),
                     "amount0_in": a0i, "amount1_in": a1i, "amount0_out": a0o,
                     "amount1_out": a1o, "price": price,
                     "block_number": m["block_number"], "ts": m["block_timestamp"],
                     "chain_id": m["chain_id"], "tx_hash": p.get("tx_hash") or ""})
    return pd.DataFrame(rows)


def transactions(msgs: list[dict]) -> pd.DataFrame:
    rows = []
    for m in msgs:
        if m.get("event_type") != "transaction":
            continue
        p = m["payload"]
        sel = p["input"][:10] if p.get("input") is not None else None
        rows.append({"hash": p["hash"], "from": p["from"], "to": p["to"],
                     "nonce": p["nonce"], "block_number": m["block_number"],
                     "ts": m["block_timestamp"], "chain_id": m["chain_id"],
                     "gas_price_gwei": float(p["gas_price"]) / 1e9,
                     "value_eth": float(p["value_wei"]) / 1e18,
                     "is_contract_deploy": p["to"] is None, "fn_selector": sel,
                     "fn_name": SELECTORS.get(sel, "unknown")})
    tx = pd.DataFrame(rows).sort_values(["block_number", "nonce"], kind="mergesort")
    tx["is_defi_tx"] = tx["fn_name"] != "unknown"
    tx["gas_p90"] = (tx["gas_price_gwei"].rolling(100, min_periods=1)
                     .quantile(0.9, interpolation="linear"))
    tx["is_high_priority"] = tx["gas_price_gwei"] > tx["gas_p90"]
    return tx.reset_index(drop=True)


def block_agg(tx: pd.DataFrame) -> pd.DataFrame:
    g = tx.groupby("block_number")
    return pd.DataFrame({
        "tx_count": g["hash"].count(),
        "total_eth_volume": g["value_eth"].sum(),
        "avg_gas_price_gwei": g["gas_price_gwei"].mean(),
        "max_gas_price_gwei": g["gas_price_gwei"].max(),
        "defi_tx_count": g["is_defi_tx"].sum(),
        "contract_deploys": g["is_contract_deploy"].sum(),
    }).reset_index()


def transfer_volume(tr: pd.DataFrame, anchor: int) -> pd.DataFrame:
    """TRANSFER_VOLUME_SQL with current_timestamp() == anchor (the generator
    keeps every timestamp out of the window's edge zone)."""
    x = tr[(tr["ts"] >= anchor - TRANSFER_WINDOW_S) & (tr["standard"] == "ERC-20")].copy()
    x["hour_bucket"] = x["ts"] // 3600 * 3600
    g = x.groupby(["hour_bucket", "contract", "standard", "chain_id"])
    return pd.DataFrame({
        "transfer_count": g.size(),
        "volume_normalized": g["amount"].agg(lambda s: (s / 1e18).sum()),
        "unique_senders": g["from"].nunique(),
        "unique_receivers": g["to"].nunique(),
    }).reset_index()


def swap_price_impact(sw: pd.DataFrame, anchor: int) -> pd.DataFrame:
    x = sw[sw["ts"] >= anchor - SWAP_WINDOW_S].copy()
    x["vol0"] = x["amount0_in"] + x["amount0_out"]
    g = x.groupby(["pool", "protocol", "chain_id"])
    out = pd.DataFrame({
        "avg_price": g["price"].mean(),
        "price_volatility": g["price"].std(ddof=1),
        "total_volume_token0": g["vol0"].sum(),
        "swap_count": g.size(),
    }).reset_index()
    return out[out["swap_count"] > 5].reset_index(drop=True)


# ------------------------------------------------------------- streaming

def micro_batches(files: list[list[str]], files_per_trigger: int) -> list[list[dict]]:
    return [envelopes([m for f in files[i: i + files_per_trigger] for m in f])
            for i in range(0, len(files), files_per_trigger)]


def _late_filter(batches: list[pd.DataFrame], delay_s: int,
                 window_s: int | None = None) -> list[pd.DataFrame]:
    """Drop late rows the way Structured Streaming does for one stateful
    operator.  The watermark of batch k is max(event time in batches < k)
    minus the delay; batch k drops rows whose event time is at or below the
    watermark of batch k - 1.  For an aggregation keyed by a tumbling window
    of ``window_s`` the event time compared is the window's end, so a row
    older than the watermark still counts while its window is open."""
    out, seen_max, wm_prev, wm = [], None, None, None
    for b in batches:
        if wm_prev is None or b.empty:
            keep = b
        else:
            t = b["ts"] if window_s is None else b["ts"] // window_s * window_s + window_s
            keep = b[t > wm_prev]
        out.append(keep)
        if not b.empty:
            seen_max = b["ts"].max() if seen_max is None else max(seen_max, b["ts"].max())
        wm_prev, wm = wm, (None if seen_max is None else seen_max - delay_s)
    return out


def stream_transfer_volume(batches: list[list[dict]]) -> pd.DataFrame:
    """Final state of hourly_transfer_volume_stream."""
    per = [transfers(b, checksum=False) for b in batches]
    per = [p if not p.empty else pd.DataFrame(columns=["ts"]) for p in per]
    kept = _late_filter(per, AGG_WATERMARK_S, window_s=3600)
    x = pd.concat([k for k in kept if not k.empty])
    x["window_start"] = x["ts"] // 3600 * 3600
    g = x.groupby(["window_start", "contract", "standard", "chain_id"])
    out = pd.DataFrame({
        "transfer_count": g.size(),
        "volume_normalized": g["amount"].agg(lambda s: (s / 1e18).sum()),
        "unique_senders": g["from"].nunique(),
        "unique_receivers": g["to"].nunique(),
    }).reset_index()
    return out


def stream_block_agg(batches: list[list[dict]]) -> pd.DataFrame:
    """Final state of streaming_block_agg."""
    per = []
    for b in batches:
        rows = [{"block_number": m["block_number"], "ts": m["block_timestamp"],
                 "hash": m["payload"]["hash"],
                 "gas_price_gwei": float(m["payload"]["gas_price"]) / 1e9,
                 "value_eth": float(m["payload"]["value_wei"]) / 1e18}
                for m in b if m.get("event_type") == "transaction"]
        per.append(pd.DataFrame(rows, columns=["block_number", "ts", "hash",
                                               "gas_price_gwei", "value_eth"]))
    kept = _late_filter(per, AGG_WATERMARK_S, window_s=3600)
    x = pd.concat([k for k in kept if not k.empty])
    x["window_start"] = x["ts"] // 3600 * 3600
    g = x.groupby(["block_number", "window_start"])
    out = pd.DataFrame({
        "tx_count": g["hash"].count(),
        "total_eth_volume": g["value_eth"].sum(),
        "avg_gas_price_gwei": g["gas_price_gwei"].mean(),
        "max_gas_price_gwei": g["gas_price_gwei"].max(),
    }).reset_index()
    return out


def stream_dedup(batches: list[list[dict]]) -> pd.DataFrame:
    """dedup_stream over the log events: first occurrence of each key, late
    rows dropped (a redelivery whose original has expired from state is
    always late, so expiry never lets a duplicate through)."""
    per = []
    for b in batches:
        rows = [{"event_type": m["event_type"], "block_number": m["block_number"],
                 "log_index": m["payload"].get("log_index"), "ts": m["block_timestamp"]}
                for m in b if m.get("event_type") != "transaction"]
        per.append(pd.DataFrame(rows, columns=[*DEDUP_KEYS, "ts"]))
    kept = _late_filter(per, DEDUP_WATERMARK_S)
    x = pd.concat([k for k in kept if not k.empty])
    return x.drop_duplicates(list(DEDUP_KEYS)).reset_index(drop=True)


# ------------------------------------------------------------ comparison

def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                 rtol: float = 1e-9, approx: dict[str, float] | None = None) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows over
    ``want``'s columns; floats within ``rtol``; columns in ``approx`` within
    that relative tolerance, and never tighter than 2 (for HyperLogLog
    counts).  Otherwise a
    one-line reason."""
    approx = approx or {}
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"missing columns {missing}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a = got[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if c in approx:
            xv, yv = x.to_numpy(float), y.to_numpy(float)
            if abs(xv.sum() - yv.sum()) > 0.05 * yv.sum():
                return f"column {c}: total {xv.sum():.0f} != {yv.sum():.0f}"
            bad = np.abs(xv - yv) > np.maximum(3.0, approx[c] * np.abs(yv))
        elif pd.api.types.is_float_dtype(y) or pd.api.types.is_float_dtype(x):
            xv, yv = x.to_numpy(float), y.to_numpy(float)
            bad = ~np.isclose(xv, yv, rtol=rtol, atol=0.0, equal_nan=True)
        else:
            xo = x.astype(object).where(x.notna(), None).tolist()
            yo = y.astype(object).where(y.notna(), None).tolist()
            bad = np.array([p != q for p, q in zip(xo, yo)], dtype=bool)
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None
