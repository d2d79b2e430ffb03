"""Structured Streaming path: file-source micro-batches through the shared
transform functions, watermarked hourly windows, checkpointed restart."""

import json
import time

import pytest
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
    hourly_transfer_volume_stream,
    stream_events,
)
from defi_etl_platform_sqlglot_implementation__spark.operators.transfers import decode_transfers

from .conftest import make_transfer_message

BASE_TS = 1_700_000_000


def _write_messages(tmp_path, msgs, name="batch0.txt"):
    (tmp_path / "input").mkdir(exist_ok=True)
    (tmp_path / "input" / name).write_text("\n".join(msgs))


def _msgs(n=60):
    return [
        make_transfer_message(
            "ERC-20" if i % 5 else "ERC-721",
            block_number=19_000_000 + i,
            block_timestamp=BASE_TS + i * 120,  # spans 2 hours
            amount=(i + 1) * 10**18,
        )
        for i in range(n)
    ]


class TestStreamingHourlyVolume:
    def test_matches_batch_aggregation(self, spark, tmp_path):
        msgs = _msgs()
        _write_messages(tmp_path, msgs)

        raw = spark.readStream.text(str(tmp_path / "input"))
        events = stream_events(raw)
        agg = hourly_transfer_volume_stream(events)

        q = (
            agg.writeStream.format("memory")
            .queryName("hourly_vol_test")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                "SELECT hour_window.start AS hour, standard, transfer_count, volume_normalized "
                "FROM hourly_vol_test"
            ).collect()
        finally:
            q.stop()

        # batch reference over the same messages via the SAME transform fn
        raw_b = spark.createDataFrame([(m,) for m in msgs], ["value"])
        from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import parse_raw_events

        batch = (
            decode_transfers(parse_raw_events(raw_b), checksum=False)
            .groupBy(F.date_trunc("hour", "block_timestamp").alias("hour"), "standard")
            .agg(F.count("*").alias("transfer_count"),
                 F.sum(F.col("amount") / 1e18).alias("volume_normalized"))
            .collect()
        )
        want = {(r["hour"], r["standard"]): r for r in batch}
        gotmap = {(r["hour"], r["standard"]): r for r in got}
        assert set(gotmap) == set(want)
        for k in want:
            assert gotmap[k]["transfer_count"] == want[k]["transfer_count"]
            assert abs(gotmap[k]["volume_normalized"] - want[k]["volume_normalized"]) < 1e-6

    def test_incremental_microbatches(self, spark, tmp_path):
        _write_messages(tmp_path, _msgs(20), "b0.txt")
        raw = spark.readStream.text(str(tmp_path / "input"))
        agg = hourly_transfer_volume_stream(stream_events(raw))
        q = (
            agg.writeStream.format("memory")
            .queryName("inc_test")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        try:
            q.processAllAvailable()
            n1 = spark.sql("SELECT SUM(transfer_count) c FROM inc_test").collect()[0]["c"]
            # second micro-batch arrives
            _write_messages(tmp_path, _msgs(40), "b1.txt")
            q.processAllAvailable()
            n2 = spark.sql("SELECT SUM(transfer_count) c FROM inc_test").collect()[0]["c"]
        finally:
            q.stop()
        assert n1 == 20
        assert n2 == 60  # 20 + 40


class TestKafkaWiring:
    def test_kafka_source_requires_connector(self, spark):
        # no broker/connector jar in this environment — the wiring is
        # exercised up to the point Spark resolves the data source
        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import kafka_source

        try:
            kafka_source(spark, "localhost:9092").printSchema()
        except Exception as exc:
            assert "kafka" in str(exc).lower()
        else:  # connector present: schema must be the Kafka contract
            pass


class TestStreamStaticJoin:
    def test_enrichment_per_microbatch(self, spark, tmp_path):
        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            enrich_stream,
        )

        (tmp_path / "in").mkdir()
        (tmp_path / "in" / "b0.jsonl").write_text(
            '{"user_id": 1, "value": 5.0}\n{"user_id": 2, "value": 6.0}\n'
            '{"user_id": 99, "value": 7.0}'
        )
        dim = spark.createDataFrame(
            [(1, "gold"), (2, "silver")], ["user_id", "tier"]
        )
        raw = spark.readStream.schema("user_id LONG, value DOUBLE").json(
            str(tmp_path / "in")
        )
        out = enrich_stream(raw, dim, "user_id")
        q = (
            out.writeStream.format("memory").queryName("enrich_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {r["user_id"]: r["tier"]
                    for r in spark.sql("SELECT * FROM enrich_test").collect()}
        finally:
            q.stop()
        assert rows == {1: "gold", 2: "silver", 99: None}


class TestBronzeQuarantine:
    def test_both_lanes_materialize(self, spark, tmp_path):
        import json

        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            bronze_with_quarantine,
        )

        (tmp_path / "in").mkdir()
        good = {"chain_id": 1, "network": "e", "block_number": 5,
                "block_timestamp": 1700000000, "event_type": "transaction",
                "payload": {"hash": "0xab"}, "ingested_at": 1.0}
        lines = [json.dumps(good), "not json", json.dumps(good)]
        (tmp_path / "in" / "b0.txt").write_text("\n".join(lines))

        raw = spark.readStream.format("text").load(str(tmp_path / "in")) \
            .withColumnRenamed("value", "value")
        q = bronze_with_quarantine(
            raw, str(tmp_path / "bronze"), str(tmp_path / "rejects"),
            str(tmp_path / "ck"),
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        bronze = spark.read.parquet(str(tmp_path / "bronze"))
        rejects = spark.read.parquet(str(tmp_path / "rejects"))
        assert bronze.count() == 2
        assert bronze.filter("event_type = 'transaction'").count() == 2
        assert rejects.count() == 1
        assert rejects.collect()[0]["raw_value"] == "not json"


class TestStreamDedup:
    """dedup_stream: redeliveries within the watermark horizon are dropped
    (bounded state), producing the batch-distinct result."""

    def test_redelivered_events_collapse_to_batch_distinct(self, spark, tmp_path):
        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            dedup_stream,
        )

        msgs = _msgs(20)
        # batch 0: originals; batch 1: 10 redeliveries + 10 new events
        _write_messages(tmp_path, msgs, "batch0.txt")
        _write_messages(
            tmp_path,
            msgs[:10] + [
                make_transfer_message(
                    "ERC-20",
                    block_number=19_100_000 + i,
                    block_timestamp=BASE_TS + i * 120,
                    amount=(i + 1) * 10**18,
                )
                for i in range(10)
            ],
            "batch1.txt",
        )

        raw = spark.readStream.text(str(tmp_path / "input"))
        events = stream_events(raw)
        deduped = dedup_stream(
            events, keys=("event_type", "block_number"), delay="2 hours")
        q = (
            deduped.select("event_type", "block_number")
            .writeStream.format("memory").queryName("dedup_stream_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                "SELECT event_type, block_number FROM dedup_stream_test"
            ).collect()
        finally:
            q.stop()

        keys = [(r.event_type, r.block_number) for r in got]
        assert len(keys) == len(set(keys)), "redelivery survived dedup"
        assert len(keys) == 30  # 20 originals + 10 genuinely new

    def test_default_keys_read_log_index_from_the_envelope(self, spark, tmp_path):
        """Two logs of one block that differ only by log_index both survive
        the default keys; a redelivery of either does not."""
        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            dedup_stream,
        )

        logs = [make_transfer_message(block_number=19_000_000, block_timestamp=BASE_TS,
                                      log_index=i) for i in (0, 1)]
        _write_messages(tmp_path, logs + logs[:1])
        events = stream_events(spark.readStream.text(str(tmp_path / "input")))
        q = (dedup_stream(events).writeStream.format("memory").queryName("dedup_default_keys")
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM dedup_default_keys").collect()
        finally:
            q.stop()
        assert sorted(r.payload.log_index for r in got) == [0, 1]
        assert "log_index" not in got[0].asDict()  # the lifted key is dropped again

    def test_lifted_keys_keep_the_plan(self, spark):
        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            dedup_stream,
        )

        events = spark.createDataFrame(
            [("token_transfer", 1, 0)], "event_type string, block_number long, log_index long",
        ).withColumn("event_time", F.current_timestamp())
        want = events.withWatermark("event_time", "1 hour").dropDuplicatesWithinWatermark(
            ["event_type", "block_number", "log_index"])
        plan = lambda df: df._jdf.queryExecution().analyzed().toString()  # noqa: E731
        assert plan(dedup_stream(events)) == plan(want)
