"""Executable RPC ingestion twin (reference src/ingestion/kafka_producer.py).

The reference connects to an EVM node via web3 and publishes normalized
``BlockchainEvent`` envelopes to Kafka (kafka_producer.py:114-225). This
module reproduces the executable half of that contract with the standard
library only — a JSON-RPC 2.0 HTTP client with bounded exponential
retry (the tenacity ``stop_after_attempt(5)/wait_exponential`` twin,
kafka_producer.py:114), block → envelope normalization with the
reference's exact payload field names (kafka_producer.py:159-225), and
topic routing (kafka_producer.py:24-27) — then hands the messages to the
bronze parser, which is where a Spark pipeline's responsibility begins.
The Kafka produce side stays wiring-only here (no broker in this
environment; streaming/pipeline.kafka_sink carries that contract).

Scale note: ingestion is driver-external by design — a real deployment
runs N of these pollers (or the Kafka Connect equivalent) OUTSIDE Spark
and lands messages on a topic; Spark's contract starts at
``parse_raw_events``. This twin exists so the fetch/normalize/retry
behavior is executable and testable, not to suggest fetching via the
Spark driver at 100 TB.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable
from typing import Any

from ..functions.keccak import ERC20_TRANSFER_TOPIC

# Topic constants — kafka_producer.py:24-27
TOPIC_BLOCKS = "blockchain.blocks.raw"
TOPIC_TRANSACTIONS = "blockchain.transactions.raw"
TOPIC_LOGS = "blockchain.logs.raw"
TOPIC_TOKEN_TRANSFERS = "blockchain.token_transfers.raw"


class RpcError(RuntimeError):
    """JSON-RPC transport failure after all retries."""


class RpcProtocolError(RpcError):
    """Deterministic JSON-RPC error response (method not found, invalid
    params, pruned block): retrying cannot help, so it surfaces
    immediately without burning the backoff schedule."""


class JsonRpcClient:
    """Minimal JSON-RPC 2.0 HTTP client with bounded exponential retry.

    Mirrors the reference's tenacity policy (stop_after_attempt(5),
    wait_exponential(min=1, max=30) — kafka_producer.py:114) with an
    injectable ``sleep`` so tests run instantly and assert the backoff
    schedule instead of waiting through it."""

    def __init__(self, url: str, max_attempts: int = 5,
                 backoff_min: float = 1.0, backoff_max: float = 30.0,
                 sleep: Callable[[float], None] = time.sleep,
                 timeout: float = 10.0):
        self.url = url
        self.max_attempts = max_attempts
        self.backoff_min = backoff_min
        self.backoff_max = backoff_max
        self._sleep = sleep
        self.timeout = timeout
        self.n_requests = 0
        self.n_retries = 0
        self._id = 0

    def call(self, method: str, params: list[Any]) -> Any:
        last_exc: Exception | None = None
        for attempt in range(self.max_attempts):
            if attempt:
                self.n_retries += 1
                self._sleep(min(self.backoff_max,
                                self.backoff_min * 2 ** (attempt - 1)))
            try:
                return self._call_once(method, params)
            except RpcProtocolError:
                raise  # deterministic: a retry cannot change the answer
            except Exception as exc:  # transport-level (5xx, timeout, conn)
                last_exc = exc
        raise RpcError(
            f"{method} failed after {self.max_attempts} attempts: {last_exc}"
        ) from last_exc

    def _call_once(self, method: str, params: list[Any]) -> Any:
        self._id += 1
        self.n_requests += 1
        body = json.dumps({"jsonrpc": "2.0", "id": self._id,
                           "method": method, "params": params}).encode()
        req = urllib.request.Request(
            self.url, data=body, headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            out = json.loads(resp.read())
        if "error" in out:
            raise RpcProtocolError(f"{method}: {out['error']}")
        return out["result"]

    # -- eth_* convenience (hex-quantity decoding per the JSON-RPC spec) --

    def block_number(self) -> int:
        return int(self.call("eth_blockNumber", []), 16)

    def get_block(self, number: int) -> dict:
        return self.call("eth_getBlockByNumber", [hex(number), True])

    def get_receipt(self, tx_hash: str) -> dict:
        return self.call("eth_getTransactionReceipt", [tx_hash])


def _hx(v: Any) -> int:
    """JSON-RPC quantity (0x-hex string) -> int; ints pass through."""
    return int(v, 16) if isinstance(v, str) else int(v)


def block_to_events(block: dict, receipts: dict[str, dict],
                    chain_id: int = 1, network: str = "ethereum-mainnet",
                    ingested_at: float | None = None) -> list[str]:
    """Normalize one block (+ its tx receipts) into the reference's
    BlockchainEvent JSON envelopes — field-for-field the payload shapes
    of kafka_producer.py:159-175 (block), :177-195 (transaction), and
    :206-225 (log / token_transfer with the ERC-20 topic[0] test)."""
    ts = _hx(block["timestamp"])
    num = _hx(block["number"])
    stamp = time.time() if ingested_at is None else ingested_at

    def env(event_type: str, payload: dict) -> str:
        return json.dumps({
            "chain_id": chain_id, "network": network,
            "block_number": num, "block_timestamp": ts,
            "event_type": event_type, "payload": payload,
            "ingested_at": stamp,
        }, default=str)

    out = [env("block", {
        "hash": block["hash"],
        "parent_hash": block["parentHash"],
        "miner": block["miner"],
        "gas_used": _hx(block["gasUsed"]),
        "gas_limit": _hx(block["gasLimit"]),
        "base_fee_per_gas": (None if block.get("baseFeePerGas") is None
                             else _hx(block["baseFeePerGas"])),
        "tx_count": len(block["transactions"]),
    })]
    for tx in block["transactions"]:
        out.append(env("transaction", {
            "hash": tx["hash"],
            "from": tx["from"],
            "to": tx.get("to"),
            "value_wei": str(_hx(tx["value"])),
            "gas": _hx(tx["gas"]),
            "gas_price": str(_hx(tx.get("gasPrice", 0))),
            "max_fee_per_gas": str(_hx(tx.get("maxFeePerGas", 0))),
            "max_priority_fee": str(_hx(tx.get("maxPriorityFeePerGas", 0))),
            "nonce": _hx(tx["nonce"]),
            "input": tx.get("input", "0x")[:64],
        }))
        receipt = receipts.get(tx["hash"])
        for entry in (receipt or {}).get("logs", []):
            topics = list(entry.get("topics", []))
            is_transfer = bool(topics) and topics[0] == ERC20_TRANSFER_TOPIC
            out.append(env(
                "token_transfer" if is_transfer else "log",
                {
                    "tx_hash": entry["transactionHash"],
                    "log_index": _hx(entry["logIndex"]),
                    "contract": entry["address"],
                    "topics": topics,
                    "data": entry.get("data") or "0x",
                }))
    return out


def route_topic(event_type: str) -> str:
    """Envelope -> Kafka topic (kafka_producer.py TOPIC_* routing)."""
    return {
        "block": TOPIC_BLOCKS,
        "transaction": TOPIC_TRANSACTIONS,
        "token_transfer": TOPIC_TOKEN_TRANSFERS,
        "log": TOPIC_LOGS,
    }[event_type]


def ingest_block_range(spark, client: JsonRpcClient, start: int, end: int,
                       chain_id: int = 1, network: str = "ethereum-mainnet",
                       ingested_at: float | None = None):
    """Fetch blocks [start, end], normalize, and parse into the bronze
    envelope frame — the executable version of the reference's poll loop
    body (kafka_producer.py:129-148: fetch → process → publish), with
    the Kafka hop replaced by the bronze parser that a streaming
    deployment reaches via the Kafka source."""
    from .bronze import local_frame, parse_raw_events

    msgs: list[str] = []
    for n in range(start, end + 1):
        block = client.get_block(n)
        receipts = {}
        for tx in block["transactions"]:
            try:
                receipts[tx["hash"]] = client.get_receipt(tx["hash"])
            except RpcError:
                # reference logs and continues on receipt failure
                # (kafka_producer.py:198-204)
                continue
        msgs.extend(block_to_events(block, receipts, chain_id, network,
                                    ingested_at=ingested_at))
    raw = local_frame(spark, [(m,) for m in msgs], "value string")
    return parse_raw_events(raw)
