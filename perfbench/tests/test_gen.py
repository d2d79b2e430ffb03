"""The generators are deterministic for a seed and have the stated shape."""

import json

import numpy as np

import gen

ANCHOR = 1_700_000_000


def test_keccak_and_eip55_known_vectors():
    assert gen.keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert gen.TRANSFER_TOPIC == (
        "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert gen.eip55("0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed") == (
        "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed")


def test_bronze_is_deterministic_per_seed():
    a = gen.bronze_messages(7, ANCHOR)
    assert a == gen.bronze_messages(7, ANCHOR)
    assert a != gen.bronze_messages(8, ANCHOR)


def test_tables_are_deterministic_per_seed():
    a, b = gen.make_tables(7), gen.make_tables(7)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(gen.make_tables(8)["lineitem"])


def test_bronze_shape():
    files = gen.bronze_messages(3, ANCHOR)
    msgs = [json.loads(m) for f in files for m in f]
    assert len(files) == gen.N_FILES
    assert len(msgs) == gen.N_MESSAGES + round(gen.REDELIVERY_SHARE * gen.N_MESSAGES)
    kinds = {m["event_type"] for m in msgs}
    assert kinds == {"token_transfer", "log", "transaction"}
    swaps = [m for m in msgs if m["payload"].get("topics", [None])[0] == gen.SWAP_TOPIC]
    assert swaps
    off = np.array([ANCHOR - m["block_timestamp"] for m in msgs])
    assert (off >= gen.MARGIN_S).all()
    for edge in (3600, 86_400):  # canonical window edges stay clear
        assert not (np.abs(off - edge) < gen.MARGIN_S).any()
    recent = [m for m in swaps if ANCHOR - m["block_timestamp"] < 3600]
    assert len(recent) > 5
    keys = [m["payload"].get("hash") or m["payload"]["tx_hash"] for m in msgs]
    assert len(keys) - len(set(keys)) == round(gen.REDELIVERY_SHARE * gen.N_MESSAGES)
