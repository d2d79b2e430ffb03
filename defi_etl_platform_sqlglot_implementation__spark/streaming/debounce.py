"""Streaming greedy event debounce: each arriving micro-batch of events
is debounced against the per-key last-KEPT timestamp carried from every
earlier batch, emitting the kept events.

The batch twin is ``event_debounce`` (registry_llm28 — fully
DuckDB-oracled against a RECURSIVE walk): when events arrive in
timestamp order (within each key), the union of per-batch kept rows
equals the batch gate's kept set row-for-row.  The parity tests drive
BOTH surfaces over the same ts-monotone spine and compare (the
streaming-near-dup / streaming-decontamination convention: the
streaming surface is pytest-verified against a batch expression that is
itself driver-oracled).

Shape per micro-batch:

1. broadcast-join the (small, key-count-bounded) state frame onto the
   batch — each (user_id, event_type) group gets its last-kept seed;
2. ONE grouped Arrow kernel (``applyInPandas``) runs the greedy scan
   seeded with that timestamp — the identical sequential logic as
   ``operators.debounce``, just with a carried-in initial kept_ts;
3. state folds forward as ``union(state, kept) -> per-key MAX`` — valid
   because any kept event is >= the prior seed + window, so MAX is the
   newest kept; the fold is disk-checkpointed (the connected_components
   lineage convention) so a long-running ingest cannot grow an
   unbounded plan.

State = one timestamp per active (user, event_type) key — exactly the
single-value-per-key state ``applyInPandasWithState`` would hold; the
explicit foreachBatch fold is used for the same reason as
streaming/near_dup.py (and because transformWithState's protobuf
dependency is absent in this container — see VERDICT r6).

Ordering contract: "earlier" is (ts, event_id) order within a key,
matching the batch twin.  Verdicts equal the batch gate whenever
arrival is ts-monotone per key (the spine); out-of-order arrival still
debounces correctly against everything SEEN so far, but an event whose
window-opener arrives later is — correctly, for an ingest path — judged
against the state at its own arrival.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.debounce import DEFAULT_WINDOW_S, greedy_kept_positions
from ..worker import install_zip_stamps


class DebounceState:
    """Incrementally-maintained per-key last-kept-timestamp state.

    ``update(batch_events)`` returns the KEPT rows of the batch —
    (user_id, event_type, event_id, ts) — and folds the batch into the
    state."""

    def __init__(self, window_s: int = DEFAULT_WINDOW_S):
        self.window_s = window_s
        self._last: DataFrame | None = None  # (user_id, event_type, last_ts)

    def update(self, batch_events: DataFrame) -> DataFrame:
        from ..operators.materialize import disk_ckpt

        delta = pd.Timedelta(seconds=self.window_s)
        batch = batch_events.select("user_id", "event_type", "event_id",
                                    "ts")
        if self._last is not None:
            seeded = batch.join(F.broadcast(self._last),
                                ["user_id", "event_type"], "left")
        else:
            seeded = batch.withColumn(
                "last_ts", F.lit(None).cast("timestamp"))

        def scan(pdf: pd.DataFrame) -> pd.DataFrame:
            install_zip_stamps()
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            seed = pdf["last_ts"].iloc[0]
            kept_idx = greedy_kept_positions(
                pdf["ts"].tolist(), delta,
                seed=None if pd.isna(seed) else seed)
            return pdf.iloc[kept_idx][
                ["user_id", "event_type", "event_id", "ts"]]

        kept = disk_ckpt(
            seeded.groupBy("user_id", "event_type").applyInPandas(
                scan,
                schema="user_id long, event_type string, event_id long, "
                       "ts timestamp"))
        newest = kept.select("user_id", "event_type",
                             F.col("ts").alias("last_ts"))
        folded = (newest if self._last is None
                  else self._last.unionAll(newest))
        self._last = disk_ckpt(
            folded.groupBy("user_id", "event_type")
            .agg(F.max("last_ts").alias("last_ts")))
        return kept


def debounce_ingest_stream(stream_events: DataFrame, state: DebounceState,
                           sink: list):
    """foreachBatch ingest loop: per micro-batch, kept events are
    computed against the state-so-far, appended to ``sink`` (as pandas
    frames), and the batch folds into the state.  Returns the
    DataStreamWriter, ready for ``.start()`` with a checkpoint dir."""
    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        pdf = state.update(batch_df).toPandas()
        pdf["batch_id"] = batch_id
        sink.append(pdf)

    return stream_events.writeStream.foreachBatch(_fb).outputMode("update")
