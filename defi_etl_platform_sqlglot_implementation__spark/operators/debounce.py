"""Greedy per-key event debounce — the rate-limit dedup a telemetry
ingest runs.

Semantics (the classic debounce/throttle-with-trailing-count): within
each (user_id, event_type) key, events are scanned in (ts, event_id)
order; the first event is kept, and every later event is kept iff its
timestamp is >= the LAST KEPT event's timestamp plus the debounce
window.  This is genuinely sequential state (which events are kept
depends on which earlier events were kept — a diameter-long dependency
chain), so it is NOT expressible as a lag/session window: gap-based
sessionization merges chains that greedy debounce splits (events at
t = 0s, 30s, 70s with a 60s window: greedy keeps {0, 70}; gap
sessionization sees gaps 30 and 40, builds ONE session, and keeps {0}).

Spark-first shape: ``applyInPandas`` over the (user_id, event_type)
grouping — each group is one user's one event type (bounded,
thousands of groups, tens of rows each), the greedy scan runs
vectorized-adjacent inside Arrow batches, and the cluster parallelism
is the number of keys.  This is tier (b) of the custom-operator
ladder (SURVEY §7): built-in operators genuinely cannot express the
semantics, so the smallest possible Pandas-UDF kernel carries exactly
the sequential part and nothing else.  The streaming twin of this
state is ``applyInPandasWithState`` keyed the same way (same kept-ts
single-value state), documented here rather than duplicated.

Reference scope: extends the reference's event-stream surface
(reference/src/transform — per-event filtering/aggregation) with the
dedup family's ingest-throttle member; no counterpart file exists —
cited per SURVEY §6 as a scale extension.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import install_zip_stamps

DEFAULT_WINDOW_S = 86_400   # one day — ~30% suppression on the driver corpus


def greedy_kept_positions(ts_seq, delta, seed=None) -> list[int]:
    """Positions kept by greedy debounce over an ORDERED sequence: the
    first element past ``seed + delta`` (or the first element when seed
    is None), then every element >= the last KEPT + delta.

    This is THE sequential core — shared verbatim by the batch kernel
    below and the streaming per-batch kernel (streaming/debounce.py),
    so the two surfaces cannot drift; its greedy certificate and
    split-invariance (greedy(all) == greedy(prefix) ++ greedy(suffix
    seeded with the prefix's last kept)) are hypothesis-pinned in
    tests/test_sequential_kernels.py.  Works over any ordered domain
    with ``+`` (timestamps + Timedelta, plain numbers)."""
    kept: list[int] = []
    last = seed
    for i, ts in enumerate(ts_seq):
        if last is None or ts >= last + delta:
            kept.append(i)
            last = ts
    return kept


def debounce_events(
    events: DataFrame,
    window_s: int = DEFAULT_WINDOW_S,
    key_cols: tuple[str, str] = ("user_id", "event_type"),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Kept events per key under greedy time-debounce, with the count of
    suppressed events trailing each kept one (suppressed rows strictly
    after this kept event and before the next kept / end of key)."""
    out_schema = (
        f"{key_cols[0]} long, {key_cols[1]} string, {id_col} long, "
        f"{ts_col} timestamp, n_suppressed long"
    )
    delta = pd.Timedelta(seconds=window_s)
    k0, k1 = key_cols

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        install_zip_stamps()
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        n = len(pdf)
        kept_idx = greedy_kept_positions(pdf[ts_col].tolist(), delta)
        # suppressed trailing each kept = gap to the next kept position
        suppressed = [nxt - cur - 1 for cur, nxt in
                      zip(kept_idx, kept_idx[1:] + [n])]
        out = pdf.iloc[kept_idx][[k0, k1, id_col, ts_col]].copy()
        out["n_suppressed"] = suppressed
        return out

    return (
        events.select(k0, k1, id_col, ts_col)
        .groupBy(k0, k1)
        .applyInPandas(scan, schema=out_schema)
        # deterministic output typing; ordering is the driver's concern
        .withColumn("n_suppressed", F.col("n_suppressed").cast("long"))
    )
