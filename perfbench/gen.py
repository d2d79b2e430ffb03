"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is made here from ``--seed``:

- ``write_tables``: the ten-table-style parquet set the registry gates read
  (TPC-H-shaped dimensions and facts plus the ``events`` fact), at a small
  scale factor.
- ``bronze_messages``: Kafka-shaped JSON envelopes for the ETL and its
  streaming twins: ERC-20 and ERC-721 Transfer logs, Uniswap V2 Swap logs and
  transactions, with Zipf-skewed contracts, pools and addresses, a stated
  share of redeliveries and of late or out-of-order events, and timestamps
  placed relative to an anchor (the run start) so the canonical SQL's
  ``current_timestamp()`` windows select a set fixed by the seed.

The Keccak-256 here is an independent implementation used for the Transfer
and Swap topic constants and for the EIP-55 reference check.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------- keccak

_RC = [
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A, 0x8000000080008000,
    0x000000000000808B, 0x0000000080000001, 0x8000000080008081, 0x8000000000008009,
    0x000000000000008A, 0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089, 0x8000000000008003,
    0x8000000000008002, 0x8000000000000080, 0x000000000000800A, 0x800000008000000A,
    0x8000000080008081, 0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
]
_ROT = [[0, 36, 3, 41, 18], [1, 44, 10, 45, 2], [62, 6, 43, 15, 61],
        [28, 55, 25, 21, 56], [27, 20, 39, 8, 14]]
_M64 = (1 << 64) - 1


def _rotl(v: int, n: int) -> int:
    return ((v << n) | (v >> (64 - n))) & _M64 if n else v


def keccak256(data: bytes) -> bytes:
    """Keccak-256 as Ethereum uses it (original padding 0x01, not SHA3's 0x06)."""
    rate = 136
    msg = bytearray(data) + b"\x01" + b"\x00" * ((-len(data) - 1) % rate)
    msg[-1] |= 0x80
    a = [[0] * 5 for _ in range(5)]
    for off in range(0, len(msg), rate):
        for i in range(rate // 8):
            a[i % 5][i // 5] ^= int.from_bytes(msg[off + 8 * i: off + 8 * i + 8], "little")
        for rc in _RC:
            c = [a[x][0] ^ a[x][1] ^ a[x][2] ^ a[x][3] ^ a[x][4] for x in range(5)]
            d = [c[(x - 1) % 5] ^ _rotl(c[(x + 1) % 5], 1) for x in range(5)]
            a = [[a[x][y] ^ d[x] for y in range(5)] for x in range(5)]
            b = [[0] * 5 for _ in range(5)]
            for x in range(5):
                for y in range(5):
                    b[y][(2 * x + 3 * y) % 5] = _rotl(a[x][y], _ROT[x][y])
            a = [[b[x][y] ^ (~b[(x + 1) % 5][y] & b[(x + 2) % 5][y]) for y in range(5)]
                 for x in range(5)]
            a[0][0] ^= rc
    return b"".join(a[i % 5][i // 5].to_bytes(8, "little") for i in range(4))


def eip55(addr: str) -> str:
    """EIP-55 mixed-case checksum of a 0x-prefixed 40-hex address."""
    low = addr[2:].lower()
    h = keccak256(low.encode()).hex()
    return "0x" + "".join(ch.upper() if int(h[i], 16) >= 8 else ch
                          for i, ch in enumerate(low))


TRANSFER_TOPIC = "0x" + keccak256(b"Transfer(address,address,uint256)").hex()
SWAP_TOPIC = "0x" + keccak256(
    b"Swap(address,uint256,uint256,uint256,uint256,address)").hex()

# -------------------------------------------------------------- tables

TABLE_SF = 0.002

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "anvil", "gizmo"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _zipf_index(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """Ranks 0..n_items-1 drawn with P(rank k) proportional to 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "D") + rng.integers(0, n_days, n)).astype("datetime64[us]")


def make_tables(seed: int) -> dict:
    """Seeded pandas frames for the tables the registry gates read."""
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * TABLE_SF)
    n_supp = max(10, int(10_000 * TABLE_SF))
    n_part = int(200_000 * TABLE_SF)
    n_ord = int(1_500_000 * TABLE_SF)
    n_ev = int(1_000_000 * TABLE_SF)
    n_users = max(15, int(15_000 * TABLE_SF))

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                               rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        # a few heavy customers, as in real order books
        "o_custkey": _zipf_index(rng, n_cust, n_ord, 0.6).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    lineitem = pd.DataFrame({
        "l_orderkey": np.repeat(orders["o_orderkey"].to_numpy(), lines_per_order),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per_order]
                                       ).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    span_us = 30 * 86_400 * 1_000_000
    # strictly increasing microsecond timestamps: no ties in ts-ordered windows
    offs = np.sort(rng.integers(0, span_us - n_ev, n_ev)) + np.arange(n_ev)
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": _zipf_index(rng, n_users, n_ev, 0.8).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2).clip(0.01, None),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def write_tables(out_dir: Path, seed: int) -> None:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in make_tables(seed).items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)


# -------------------------------------------------------------- bronze

# Shape of the generated bronze stream.  Shares are of the base messages
# (before redeliveries are appended).  Late events carry a timestamp 12 to
# 24 hours older than their position in the stream, more than a micro-batch
# spans, so the streaming watermarks drop most of them; disordered events are
# displaced by at most DISORDER_MAX_S, well inside the watermarks.
N_MESSAGES = 3000
N_FILES = 12
SWAP_SHARE = 0.10
TX_SHARE = 0.30
NFT_SHARE = 0.15
REDELIVERY_SHARE = 0.03
LATE_SHARE = 0.01
DISORDER_SHARE = 0.05
DISORDER_MAX_S = 240
LATE_MIN_S = 12 * 3600
N_TOKENS = 40
N_NFTS = 8
N_POOLS = 12
N_ADDRESSES = 1500
ZIPF_S = 1.1
# every timestamp is anchor - offset with offset in [MARGIN_S, SPAN_S +
# MARGIN_S]; the transfer window (24 h) boundary and the swap window (1 h)
# boundary each get a dead zone of MARGIN_S
SPAN_S = 26 * 3600
MARGIN_S = 900
RECENT_SWAP_SHARE = 0.35


def _addresses(rng: np.random.Generator, n: int) -> list[str]:
    return ["0x" + rng.bytes(20).hex() for _ in range(n)]


def _outside_dead_zones(off: np.ndarray, margin: int) -> np.ndarray:
    """Push offsets out of the +-margin dead zones around 1 h and 24 h."""
    for edge in (3600, 86_400):
        near = np.abs(off - edge) < margin
        off = np.where(near, np.where(off < edge, edge - margin, edge + margin), off)
    return off


def bronze_messages(seed: int, anchor: int) -> list[list[str]]:
    """Seeded bronze JSON messages split into ``N_FILES`` files.

    Messages are in stream (file) order: block numbers and timestamps rise
    through the stream except for the stated disordered and late shares;
    redeliveries repeat an earlier message (new ``ingested_at``) a few files
    later.  Timestamps are ``anchor - offset`` in whole seconds.
    """
    rng = np.random.default_rng([seed, 2])
    n = N_MESSAGES
    tokens = _addresses(rng, N_TOKENS)
    nfts = _addresses(rng, N_NFTS)
    pools = _addresses(rng, N_POOLS)
    people = _addresses(rng, N_ADDRESSES)

    kind = rng.choice(3, size=n, p=[1 - SWAP_SHARE - TX_SHARE,
                                    SWAP_SHARE, TX_SHARE])
    # base offsets; a share of swaps lands in the last hour so the 1 h
    # canonical window has pools with more than five swaps
    off = rng.integers(MARGIN_S, SPAN_S + MARGIN_S, n)
    recent = (kind == 1) & (rng.random(n) < RECENT_SWAP_SHARE)
    off = np.where(recent, rng.integers(MARGIN_S, 3600 - MARGIN_S, n), off)
    # stream order == time order, so the watermarks advance with the chain
    order = np.argsort(-off, kind="stable")
    kind, off = kind[order], off[order]
    # displacements change a message's timestamp, not its stream slot
    disorder = rng.random(n) < DISORDER_SHARE
    off = off + np.where(disorder, rng.integers(1, DISORDER_MAX_S, n), 0)
    late = rng.random(n) < LATE_SHARE
    off = off + np.where(late, rng.integers(LATE_MIN_S, 2 * LATE_MIN_S, n), 0)
    off = _outside_dead_zones(off, MARGIN_S)
    ts = (anchor - off).astype(np.int64)
    block0 = 19_000_000
    block = block0 + np.arange(n) // 4

    senders = _zipf_index(rng, len(people), n, ZIPF_S)
    receivers = _zipf_index(rng, len(people), n, ZIPF_S)
    pool_of = _zipf_index(rng, len(pools), n, ZIPF_S)
    token_of = _zipf_index(rng, len(tokens), n, ZIPF_S)
    nft_of = _zipf_index(rng, len(nfts), n, ZIPF_S)
    msgs = []
    for i in range(n):
        k = int(kind[i])
        env = {"chain_id": 1, "network": "ethereum-mainnet",
               "block_number": int(block[i]), "block_timestamp": int(ts[i]),
               "ingested_at": float(anchor) + i * 1e-3}
        sender, receiver = people[senders[i]], people[receivers[i]]
        if k == 2:
            deploy = rng.random() < 0.02
            sel = rng.choice(["0xa9059cbb", "0x23b872dd", "0x095ea7b3",
                              "0x42842e0e", "0x12345678", "0xdeadbeef"])
            env["event_type"] = "transaction"
            env["payload"] = {
                "hash": "0x" + rng.bytes(32).hex(),
                "from": sender,
                "to": None if deploy else receiver,
                "value_wei": str(int(rng.integers(0, 5 * 10**6)) * 10**12),
                "gas": 21_000 + int(rng.integers(0, 200_000)),
                "gas_price": str(int(rng.integers(10, 500)) * 10**9
                                 + int(rng.integers(0, 10**9))),
                "nonce": i,
                "input": str(sel) + rng.bytes(32).hex(),
            }
        elif k == 1:
            pool = pools[pool_of[i]]
            a = [int(v) for v in rng.integers(1, 10**6, 4)]
            zero_in = rng.integers(0, 2)  # one side in, the other out
            a[zero_in] = 0
            a[2 + (1 - zero_in)] = 0
            words = [v * 10**12 for v in a]
            env["event_type"] = "log"
            env["payload"] = {
                "tx_hash": "0x" + rng.bytes(32).hex(), "log_index": i,
                "contract": pool,
                "topics": [SWAP_TOPIC, "0x" + "0" * 24 + sender[2:],
                           "0x" + "0" * 24 + receiver[2:]],
                "data": "0x" + "".join(f"{w:064x}" for w in words),
            }
        else:
            nft = rng.random() < NFT_SHARE
            contract = nfts[nft_of[i]] if nft else tokens[token_of[i]]
            topics = [TRANSFER_TOPIC, "0x" + "0" * 24 + sender[2:],
                      "0x" + "0" * 24 + receiver[2:]]
            if nft:
                topics.append(f"0x{int(rng.integers(1, 10_000)):064x}")
            env["event_type"] = "token_transfer" if rng.random() < 0.8 else "log"
            env["payload"] = {
                "tx_hash": "0x" + rng.bytes(32).hex(), "log_index": i,
                "contract": contract, "topics": topics,
                "data": "0x" if nft else hex(int(rng.integers(1, 10**9)) * 10**12),
            }
        msgs.append(env)

    per_file = -(-n // N_FILES)
    files = [msgs[j: j + per_file] for j in range(0, n, per_file)]
    # redeliveries: an earlier message delivered again one or two files later
    n_re = int(round(REDELIVERY_SHARE * n))
    src = np.sort(rng.choice(n - per_file, size=n_re, replace=False))
    for j in src:
        dst = min(len(files) - 1, int(j) // per_file + 1 + int(rng.integers(0, 2)))
        again = dict(msgs[int(j)])
        again["ingested_at"] = again["ingested_at"] + 3600.0
        files[dst].append(again)
    return [[json.dumps(m, separators=(",", ":")) for m in f] for f in files]
