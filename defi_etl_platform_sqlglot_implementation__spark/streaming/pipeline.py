"""Structured Streaming path (SURVEY.md §2.9, §7.2 step 6).

The reference's "streaming" is a 2-second polling producer with a single
``latest`` cursor (kafka_producer.py:129-148) and batch-only consumption.
Here the same transform functions run under Structured Streaming:

- the poll loop          -> micro-batch trigger (processingTime='2 seconds')
- the ``latest`` cursor  -> checkpointed source offsets
- at-least-once publish  -> Kafka sink semantics (same), or exactly-once
                            into files via checkpoint + idempotent sink
- the 24h/1h SQL predicates -> watermarked event-time tumbling windows
  (late-data handling is NEW capability, absent in the reference — events
  later than the watermark are dropped instead of silently recomputed)

The batch and streaming paths share one transform fn (decode_transfers
etc.) — the SURVEY §2.9 requirement that both compute the same thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import ENVELOPE
from ..sources.bronze import parse_raw_events

KAFKA_TOPICS = (
    "blockchain.blocks.raw",
    "blockchain.transactions.raw",
    "blockchain.logs.raw",
    "blockchain.token_transfers.raw",
)


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    subscribe_pattern: str = "blockchain\\..*\\.raw",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """readStream from the reference's four topics (kafka_producer.py:24-27)
    — one subscribePattern source; offsets live in the checkpoint, replacing
    the reference's in-memory ``latest`` cursor."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribePattern", subscribe_pattern)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return reader.load()


def stream_events(raw: DataFrame, schema: StructType = ENVELOPE) -> DataFrame:
    """Kafka-shaped stream (value binary) -> typed envelope stream with an
    event-time column derived from block_timestamp."""
    events = parse_raw_events(raw, schema=schema)
    return events.withColumn("event_time", F.timestamp_seconds("block_timestamp"))


def hourly_transfer_volume_stream(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming variant of the canonical TRANSFER_VOLUME aggregation (A2):
    watermarked 1-hour tumbling windows over decoded transfers.

    Shares decode_transfers with the batch path; the window(ts, '1 hour')
    grouping is the streaming analog of batch date_trunc('hour', ...).
    """
    from ..operators.transfers import decode_transfers

    transfers = decode_transfers(events, checksum=False)
    return (
        transfers.withWatermark("block_timestamp", watermark)
        .groupBy(
            F.window("block_timestamp", "1 hour").alias("hour_window"),
            "contract",
            "standard",
            "chain_id",
        )
        .agg(
            F.count("*").alias("transfer_count"),
            F.sum(F.col("amount") / 1e18).alias("volume_normalized"),
            # count(distinct) is unsupported in streaming aggs;
            # approx_count_distinct is the streaming-native equivalent
            F.approx_count_distinct("from").alias("unique_senders"),
            F.approx_count_distinct("to").alias("unique_receivers"),
        )
    )


def streaming_block_agg(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming per-block aggregates (A1) over transaction events."""
    from ..pipeline import lift_transactions

    tx = lift_transactions(events)
    tx = tx.withColumn("gas_price_gwei", F.col("gas_price").cast("double") / 1e9)
    tx = tx.withColumn("value_eth", F.col("value_wei").cast("double") / 1e18)
    return (
        tx.withWatermark("block_timestamp", watermark)
        .groupBy("block_number", F.window("block_timestamp", "1 hour"))
        .agg(
            F.count("hash").alias("tx_count"),
            F.sum("value_eth").alias("total_eth_volume"),
            F.avg("gas_price_gwei").alias("avg_gas_price_gwei"),
            F.max("gas_price_gwei").alias("max_gas_price_gwei"),
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_type", "block_number", "log_index"),
    ts_col: str = "event_time",
    delay: str = "1 hour",
) -> DataFrame:
    """At-least-once -> effectively-once: drop redeliveries of the same
    event key within the watermark horizon.

    The Kafka sink (and the reference's acks=all producer it mirrors —
    kafka_producer.py:84-112) is at-least-once, so downstream consumers
    see duplicates after a crash-replay.  ``dropDuplicatesWithinWatermark``
    is the streaming-native fix: state holds each key only for ``delay``
    of EVENT time, then expires — bounded state at any throughput, unlike
    a bare ``dropDuplicates`` on a stream, which retains every key ever
    seen and OOMs a 100 TB/day pipeline.  Redeliveries later than the
    watermark are not deduplicated (they are late data; the watermark
    already governs their fate in downstream aggregations).

    A key the frame lacks at the top level is read from the envelope's
    ``payload`` (where ``log_index`` lives) and dropped again after the
    dedup; a frame that already carries every key is deduplicated as is."""
    lifted = [k for k in keys if k not in events.columns]
    if lifted:
        events = events.withColumns({k: F.col(f"payload.{k}") for k in lifted})
    return (
        events.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(list(keys))
        .drop(*lifted)
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    checkpoint_dir: str,
    *,
    topic: str | None = None,
    trigger_seconds: float = 2.0,
):
    """writeStream to Kafka with the reference's cadence (poll_interval=2s ->
    processingTime trigger). The (topic, key, value) projection is shared
    with the broker-less executable twin (kafka_compat.kafka_records —
    block-hash keys for blocks, block-number keys otherwise, event-type
    topic routing), so the contract asserted in test_kafka_compat is the
    one this production sink publishes. A fixed ``topic`` option overrides
    the routed topic column when a caller pins one."""
    from .kafka_compat import kafka_records

    out = kafka_records(df)
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if topic is not None:
        writer = writer.option("topic", topic)
    return writer


def foreach_batch_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str,
                          trigger_seconds: float = 2.0):
    """Exactly-once-ish bronze materialization: checkpointed foreachBatch
    append — the Spark analog of the reference's backfill batching
    (scripts/backfill.py:44-78), with task retry replacing its per-block
    try/except skip."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: the static side is (re)broadcast per
    micro-batch — the streaming analog of the selector-map / nation-region
    lookups (J3). No state, no watermark required."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def bronze_with_quarantine(raw: DataFrame, out_dir: str, reject_dir: str,
                           checkpoint_dir: str, trigger_seconds: float = 2.0,
                           schema: StructType = ENVELOPE):
    """Streaming bronze ingest with a dead-letter lane: every micro-batch
    splits into parsed events (appended under ``out_dir``) and corrupt
    raw payloads (appended under ``reject_dir``), both from ONE from_json
    pass per batch (sources/bronze.parse_raw_events_quarantine).

    foreachBatch is the right sink shape here because one epoch must fan
    out to two destinations atomically-enough: both writes happen inside
    the same checkpointed batch, so a crash between them re-runs the
    whole batch (at-least-once on both lanes, idempotent for consumers
    keyed on raw payload). The reference's equivalent is log-and-skip;
    here bad bytes stay queryable next to the bronze they failed to join.
    """
    from ..sources.bronze import parse_raw_events_quarantine

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ok, rejects = parse_raw_events_quarantine(batch_df, schema=schema)
        ok.write.mode("append").parquet(out_dir)
        rejects.write.mode("append").parquet(reject_dir)

    return (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
