"""Custom stateful streaming operators (beyond the reference surface).

The reference keeps no stream state at all (a single cursor variable,
kafka_producer.py:134). These are the stateful building blocks a
large-scale event pipeline needs, in their Spark-native forms:

- :func:`stream_dedup` — exactly-once-per-key emission within the
  watermark horizon via streaming ``dropDuplicates``: RocksDB/HDFS-backed
  state keyed by the id column, purged as the watermark advances. This is
  streaming exact-dedup (the batch `dedup_exact` counterpart).
- :func:`running_user_stats` — ``applyInPandasWithState``: an explicit
  per-key state machine (running count/sum/max over each user's events)
  with processing-time timeouts — the template for custom sessionization
  or per-entity sketches that built-in aggregations can't express.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..worker import install_zip_stamps

RUNNING_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def stream_dedup(events: DataFrame, id_cols: list[str],
                 event_time_col: str, watermark: str = "10 minutes") -> DataFrame:
    """First occurrence per key within the watermark horizon; state for a
    key is dropped once the watermark passes it (bounded state — the piece
    the reference's crash-reprocessing producer lacks)."""
    return events.withWatermark(event_time_col, watermark).dropDuplicates(
        [*id_cols, event_time_col]
    )


def _update_stats(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    install_zip_stamps()
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, float("-inf")
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total],
         "max_value": [mx]}
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running stats as an explicit state machine
    (applyInPandasWithState). Input needs columns (user_id, value)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_stats,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TOKEN_COUNT_SCHEMA = StructType(
    [StructField("tok", StringType()), StructField("cnt", LongType())]
)
_TOKEN_STATE_SCHEMA = StructType([StructField("cnt", LongType())])


def _update_token_count(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    install_zip_stamps()
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    prior = state.get[0] if state.exists else 0
    total = prior + n
    state.update((total,))
    yield pd.DataFrame({"tok": [key[0]], "cnt": [total]})


def streaming_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Incremental corpus vocabulary: per-token running counts over a
    document stream (applyInPandasWithState) — the streaming twin of the
    batch ``token_vocab_topk`` build.

    Tokenization matches the batch family (split on ' '); each micro-batch
    shuffles its exploded tokens once onto the state key, the state is one
    long per token, and the operator emits the updated totals (update
    mode) — downstream, a batch top-k over the latest totals gives the
    live vocabulary without ever rescanning the corpus. At 100 TB-of-
    stream scale the state store is RocksDB-backed and per-token state is
    8 bytes, so vocabulary cardinality, not corpus size, bounds memory.
    """
    toks = docs.select(F.explode(F.split(text_col, " ")).alias("tok"))
    return toks.groupBy("tok").applyInPandasWithState(
        _update_token_count,
        outputStructType=TOKEN_COUNT_SCHEMA,
        stateStructType=_TOKEN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_value_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) via ``transformWithState``
    — the Spark 4 stateful-processor API that supersedes
    ``applyInPandasWithState`` (typed state handles, timers, TTL support).
    Functionally a twin of :func:`running_user_stats`, kept alongside it
    so both state APIs stay covered; requires the RocksDB state-store
    provider (set in the test/session conf), which is also the 100 TB
    deployment choice — state lives off-heap and spills to disk.

    Runtime requirement: the transformWithState state-server protocol
    needs a working ``google.protobuf``; in environments without it (this
    test container), use :func:`running_user_stats` — the test suite
    skips the TWS path automatically.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            if self._state.exists():
                prior_n, prior_total = self._state.get()
                n, total = n + prior_n, total + prior_total
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("ewma", DoubleType())]
)

EWMA_ALPHA = 0.125  # 1/8 — exactly representable (matches ewma_user_value)


def _update_ewma(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Recursive EWMA state machine: ewma <- a*x + (1-a)*ewma, seeded with
    the first observation (pandas ewm(adjust=False) semantics, so the
    batch parity target is exact, not asymptotic)."""
    install_zip_stamps()
    if state.exists:
        n, ewma = state.get
    else:
        n, ewma = 0, 0.0
    # a key's microbatch rows can arrive as MULTIPLE Arrow chunks with
    # arbitrary inter-chunk order — concatenate before sorting, or the
    # recurrence folds out of time order once a user exceeds one chunk;
    # event_id breaks equal-timestamp ties deterministically when present
    pdf = pd.concat(list(pdfs), ignore_index=True)
    sort_cols = ["ts"] + (["event_id"] if "event_id" in pdf.columns else [])
    for x in pdf.sort_values(sort_cols, kind="mergesort")["value"]:
        x = float(x)
        if n == 0:
            ewma = x
        else:
            ewma = EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * ewma
        n += 1
    state.update((n, ewma))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [ewma]})


def streaming_user_ewma(events: DataFrame) -> DataFrame:
    """Per-user recursive EWMA over a stream (applyInPandasWithState) —
    the streaming sibling of the batch finite-window ``ewma_user_value``
    gate: O(1) state per key (count + current smoothed value), update
    outputMode, no timeout. Input needs columns (user_id, ts, value)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_ewma,
            outputStructType=EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
