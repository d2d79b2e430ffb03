"""``ingest``: the bronze -> silver -> gold ETL and its streaming twins.

Inputs are seeded bronze JSON-lines files (see ``gen.bronze_messages``).

One operation is one batch ETL round over all the files (the timed region
runs ``--seconds / 7`` rounds, at least two):
``parse_raw_events`` -> ``run_batch`` -> silver parquet (transfers, swaps,
transactions) -> ``aggregate_by_block`` and both canonical queries through
``run_canonical`` over views of the written silver.  After the rounds, the
timed region ends with one streaming pass: the same files through
``stream_events`` into ``hourly_transfer_volume_stream``,
``streaming_block_agg`` and ``dedup_stream``, each with its own checkpoint,
``availableNow`` and a fixed number of files per trigger, the three running
side by side.

After the run, every round's silver and gold outputs, and the streaming
outputs, are compared with the pandas computations in ``reference``.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import pandas as pd

import gen
import reference as ref
from common import Tracer

FILES_PER_TRIGGER = 4
SILVER = ("transfers", "swaps", "transactions")


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _epoch_s(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col, utc=True).astype("int64") // 10**9


class Ingest:
    name = "ingest"
    unit = "message"
    trace_ops = 2

    def timed_ops(self, seconds: float) -> int:
        """Rounds, at least two; on a 4-core host a round takes 2 to 4 s and
        the streaming pass after them about as long as two or three."""
        return max(2, round(seconds / 7))

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.bronze = work / "bronze"
        self.warm_bronze = work / "bronze-warm-up"
        self.anchor = int(time.time())
        self.failures: list[str] = []
        self.rounds: list[tuple[Path, dict]] = []
        self.passes: list[tuple[Path, list]] = []
        self.n_messages = 0

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        files = gen.bronze_messages(self.seed, self.anchor)
        self.bronze.mkdir(parents=True)
        self.warm_bronze.mkdir(parents=True)
        base = time.time() - 3600
        for i, lines in enumerate(files):
            dirs = [self.bronze] + ([self.warm_bronze] if i < FILES_PER_TRIGGER else [])
            for d in dirs:
                p = d / f"part-{i:04d}.json"
                p.write_text("\n".join(lines) + "\n")
                # the file source orders files by modification time
                os.utime(p, (base + i, base + i))
        self.files = files
        self.n_messages = sum(len(f) for f in files)

    # ------------------------------------------------------------- batch

    def _round(self, spark, i: int, tracer: Tracer, keep: bool = True) -> int:
        from defi_etl_platform_sqlglot_implementation__spark.operators.tx_features import (
            aggregate_by_block,
        )
        from defi_etl_platform_sqlglot_implementation__spark.pipeline import run_batch
        from defi_etl_platform_sqlglot_implementation__spark.plans.queries import run_canonical
        from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import (
            parse_raw_events,
        )

        out = self.work / "silver" / f"r{i}"
        with tracer.span(i, "parse"):
            events = parse_raw_events(spark.read.text(str(self.bronze))).persist()
            events.count()
        try:
            frames = run_batch(spark, events, register_views=False)
            for name in SILVER:
                with tracer.span(i, name):
                    frames[name].write.mode("overwrite").parquet(str(out / name))
        finally:
            events.unpersist()
        views = {"transfers": "token_transfers", "swaps": "defi_swaps",
                 "transactions": "transactions"}
        for name, view in views.items():
            spark.read.parquet(str(out / name)).createOrReplaceTempView(view)
        gold = {}
        with tracer.span(i, "block_agg"):
            gold["block_agg"] = aggregate_by_block(spark.table("transactions")).toPandas()
        for q in ("transfer_volume", "swap_price_impact"):
            with tracer.span(i, q):
                gold[q] = run_canonical(spark, q).toPandas()
        if keep:
            self.rounds.append((out, gold))
        return self.n_messages

    def untimed_pass(self, spark) -> int:
        """An untimed streaming pass over the first trigger's files, then a
        warm-up round over all the files; they compile what the timed region
        runs (a cold streaming pass swings by a quarter from run to run).
        The streaming pass goes first: a round right after it runs about 20%
        slower than the next.  Their outputs are not kept."""
        self.tail_phase(spark, Tracer(), keep=False)
        self._round(spark, -1, Tracer(), keep=False)
        return 2

    def op(self, spark, i: int, tracer: Tracer) -> int:
        return self._round(spark, i, tracer)

    # --------------------------------------------------------- streaming

    def tail_phase(self, spark, tracer: Tracer, keep: bool = True) -> int:
        from pyspark.sql import functions as F

        from defi_etl_platform_sqlglot_implementation__spark.streaming.pipeline import (
            dedup_stream,
            hourly_transfer_volume_stream,
            streaming_block_agg,
            stream_events,
        )

        root = self.work / "stream" / (f"p{len(self.passes)}" if keep else "warm-up")
        source = self.bronze if keep else self.warm_bronze

        def events():
            raw = (spark.readStream.option("maxFilesPerTrigger", FILES_PER_TRIGGER)
                   .text(str(source)))
            return stream_events(raw)

        logs = events().filter(F.col("event_type") != "transaction")
        queries = {
            "transfer_volume": (
                hourly_transfer_volume_stream(events()).select(
                    F.col("hour_window.start").cast("long").alias("window_start"),
                    "contract", "standard", "chain_id", "transfer_count",
                    "volume_normalized", "unique_senders", "unique_receivers"),
                "update"),
            "block_agg": (
                streaming_block_agg(events()).select(
                    "block_number", F.col("window.start").cast("long").alias("window_start"),
                    "tx_count", "total_eth_volume", "avg_gas_price_gwei",
                    "max_gas_price_gwei"),
                "update"),
            # dedup keys name a top-level log_index; the envelope nests it
            "dedup": (
                dedup_stream(logs.withColumn("log_index", F.col("payload.log_index"))).select(
                    "event_type", "block_number", "log_index",
                    F.col("block_timestamp").alias("ts")),
                "append"),
        }
        # the three twins run side by side, as they would in production
        started = []
        with tracer.span(-2, "stream"):
            for name, (df, mode) in queries.items():
                sink = str(root / name)

                def write(batch, batch_id, sink=sink):
                    batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

                started.append((name, df.writeStream.outputMode(mode).foreachBatch(write)
                                .option("checkpointLocation", str(root / f"{name}.chk"))
                                .trigger(availableNow=True).start()))
            for _, q in started:
                q.awaitTermination()
        progress = []
        for name, q in started:
            if q.exception() is not None:
                raise RuntimeError(f"stream {name} failed: {q.exception()}")
            progress.append((name, list(q.recentProgress)))
        if keep:
            self.passes.append((root, progress))
        return self.n_messages

    # ------------------------------------------------------------ checks

    def _check_round(self, out: Path, gold: dict) -> list[str]:
        errs = []
        got = pd.read_parquet(out / "transfers")
        got["ts"] = _epoch_s(got["block_timestamp"])
        keys = ["tx_hash", "from", "to", "amount", "ts"]
        errs.append(ref.frames_match(got, self.want_transfers, keys))
        got = pd.read_parquet(out / "swaps")
        got["ts"] = _epoch_s(got["block_timestamp"])
        errs.append(ref.frames_match(got, self.want_swaps, ["tx_hash", "pool", "ts"]))
        got = pd.read_parquet(out / "transactions")
        got["ts"] = _epoch_s(got["block_timestamp"])
        errs.append(ref.frames_match(got, self.want_tx, ["hash", "block_number", "nonce"],
                                     rtol=1e-12))
        errs.append(ref.frames_match(gold["block_agg"], self.want_block_agg, ["block_number"]))
        got = gold["transfer_volume"].copy()
        got["hour_bucket"] = _epoch_s(got["hour_bucket"])
        got = got.rename(columns={"token_contract": "contract", "token_standard": "standard"})
        errs.append(ref.frames_match(got, self.want_volume, ["hour_bucket", "contract"]))
        errs.append(ref.frames_match(gold["swap_price_impact"], self.want_impact, ["pool"]))
        return [e for e in errs if e]

    def _check_stream(self, root: Path) -> list[str]:
        batches = ref.micro_batches(self.files, FILES_PER_TRIGGER)
        errs = []
        want_v = ref.stream_transfer_volume(batches)
        want_b = ref.stream_block_agg(batches)
        for name, want, keys, approx in (
                ("transfer_volume", want_v, ["window_start", "contract", "standard"],
                 # approx_count_distinct (relative SD 0.05 for large sets)
                 {"unique_senders": 0.3, "unique_receivers": 0.3}),
                ("block_agg", want_b, ["block_number", "window_start"], {})):
            got = pd.read_parquet(root / name)
            # update mode emits a row per changed key per batch: keep the last
            got = got.sort_values("batch_id").drop_duplicates(keys, keep="last")
            errs.append(ref.frames_match(got, want, keys, approx=approx))
        got = pd.read_parquet(root / "dedup")
        errs.append(ref.frames_match(got, ref.stream_dedup(batches), list(ref.DEDUP_KEYS)))
        return [f"stream {e}" for e in errs if e]

    def verify(self) -> None:
        """Check every round and streaming pass; one failure entry each."""
        msgs = ref.envelopes([m for f in self.files for m in f])
        self.want_transfers = ref.transfers(msgs)
        self.want_swaps = ref.swaps(msgs)
        self.want_tx = ref.transactions(msgs)
        self.want_block_agg = ref.block_agg(self.want_tx)
        self.want_volume = ref.transfer_volume(self.want_transfers, self.anchor)
        self.want_impact = ref.swap_price_impact(self.want_swaps, self.anchor)
        for out, gold in self.rounds:
            errs = self._check_round(out, gold)
            if errs:
                self.failures.append(f"round {out.name}: " + "; ".join(errs))
        for root, _ in self.passes:
            errs = self._check_stream(root)
            if errs:
                self.failures.append(f"{root.name}: " + "; ".join(errs))

    # --------------------------------------------------------- per layer

    def per_layer(self, tracer: Tracer, groups: dict, run: dict) -> dict[str, float]:
        from eventlog import GroupStats

        rounds = run["ops"]

        def mean(name: str) -> float:
            d = tracer.durations(name)
            return sum(d) / len(d) if d else 0.0

        acc = GroupStats()
        for gid, g in groups.items():
            op = gid.split(":", 1)[0]
            if op.lstrip("-").isdigit() and int(op) >= 0:
                acc.add(g)
        out = {f"pipeline.{s}_s": mean(s) for s in ("transfers", "swaps", "transactions",
                                                      "block_agg")}
        out["sources.parse_s"] = mean("parse")
        out["pipeline.silver_write_s"] = sum(mean(s) for s in SILVER)
        out["plans.transfer_volume_s"] = mean("transfer_volume")
        out["plans.swap_price_impact_s"] = mean("swap_price_impact")
        last_out = self.rounds[-1][0]
        out["pipeline.silver_bytes_per_input_byte"] = (
            sum(_dir_bytes(last_out / s) for s in SILVER) / _dir_bytes(self.bronze))
        out["sources.input_bytes"] = acc.input_bytes / rounds
        out["functions.udf_rows"] = acc.udf_rows / rounds
        out["functions.udf_bytes"] = acc.udf_bytes / rounds
        out["operators.kernel_rows"] = acc.kernel_rows / rounds
        out["operators.kernel_bytes"] = acc.kernel_bytes / rounds
        out.update(self._stream_layer(tracer))
        return out

    def _stream_layer(self, tracer: Tracer) -> dict[str, float]:
        _, progress = self.passes[-1]
        dur: dict[str, list[float]] = {k: [] for k in ("triggerExecution", "addBatch",
                                                       "queryPlanning", "commit")}
        state_commit, rows, mem, late, dups = [], 0, 0, 0, 0
        for _, prog in progress:
            for p in prog:
                if not p["numInputRows"]:
                    continue
                d = p["durationMs"]
                for k in ("triggerExecution", "addBatch", "queryPlanning"):
                    dur[k].append(d.get(k, 0) / 1000.0)
                dur["commit"].append((d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0)
                for s in p["stateOperators"]:
                    state_commit.append(s.get("commitTimeMs", 0) / 1000.0)
                    late += s.get("numRowsDroppedByWatermark", 0)
                    dups += (s.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
            last = [p for p in prog if p["stateOperators"]]
            if last:
                rows += sum(s.get("numRowsTotal", 0) for s in last[-1]["stateOperators"])
                mem += sum(s.get("memoryUsedBytes", 0) for s in last[-1]["stateOperators"])
        wall = tracer.durations("stream")[-1]
        return {
            "streaming.trigger_s": statistics.median(dur["triggerExecution"]),
            "streaming.add_batch_s": statistics.median(dur["addBatch"]),
            "streaming.planning_s": statistics.median(dur["queryPlanning"]),
            "streaming.commit_s": statistics.median(dur["commit"]),
            "streaming.state_commit_s": statistics.median(state_commit),
            "streaming.state_rows": rows,
            "streaming.state_bytes": mem,
            "streaming.late_rows_dropped": late,
            "streaming.dup_rows_dropped": dups,
            "streaming.msgs_per_s": self.n_messages / wall,
        }
