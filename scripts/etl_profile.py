#!/usr/bin/env python
"""Attribute the r9 ETL-throughput drift (VERDICT r9 #4: 43k -> 38-40k
msgs/s across sessions while etl_run_batch stayed flat at 2.3-2.7 s).

Hypotheses, measured separately in ONE process:

  A. fresh       — ETL timed in a fresh session, registry NOT imported
                   (the r6-era measurement context that recorded 43k).
  B. registry    — same session after importing every registry module
                   (the import cost is driver-side; if throughput drops
                   here, module import state is the cause).
  C. post-bench  — same session after running a slice of bench queries
                   incl. Arrow/pandas stages (Python-worker churn, JVM
                   heap/GC pressure, cache-manager population — the
                   exact context bench.py measures ETL in).

Each context reports min-of-N msgs/s over the same message corpus.
Emits one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from defi_etl_platform_sqlglot_implementation__spark import session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = int(os.environ.get("SPARK_GRAFT_ETL_RUNS", "3"))
    n_msgs = int(os.environ.get("SPARK_GRAFT_ETL_MSGS", "100000"))
    spark = session(cpus, "etl-profile",
                    driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from defi_etl_platform_sqlglot_implementation__spark.pipeline import run_batch
    from defi_etl_platform_sqlglot_implementation__spark.serving.data_service import (
        make_synthetic_transfer_messages,
        make_synthetic_tx_messages,
    )
    from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import (
        parse_raw_events,
    )
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.functions.hex import (
        hex_to_double,
    )

    msgs = (make_synthetic_transfer_messages(n=n_msgs * 7 // 10)
            + make_synthetic_tx_messages(n=n_msgs * 3 // 10))
    raw = (spark.createDataFrame([(m,) for m in msgs], ["value"])
           .repartition(int(cpus)).persist())
    raw.count()

    # full-width pandas-UDF warm-up so all Python workers exist (the
    # bench.py convention) — worker SPAWN cost is excluded everywhere,
    # worker CHURN during contexts B/C is what we're measuring
    (spark.range(int(cpus) * 1000).repartition(int(cpus))
     .select(hex_to_double(F.format_string("%x", "id")))
     .write.mode("overwrite").format("noop").save())

    def etl_once() -> float:
        t0 = time.time()
        events = parse_raw_events(raw).persist()
        results = run_batch(spark, events)
        silver = [results[k] for k in ("transfers", "swaps", "transactions")]
        for df in silver:
            df.persist()
        for key in ("transfers", "swaps", "transactions", "block_agg",
                    "transfer_volume", "swap_price_impact"):
            results[key].write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        for df in silver:
            df.unpersist()
        events.unpersist()
        return dt

    def measure(label: str) -> dict:
        best = min(etl_once() for _ in range(runs))
        return {"context": label, "sec": round(best, 3),
                "msgs_per_sec": round(len(msgs) / best, 1),
                "load1": round(os.getloadavg()[0], 2)}

    out = [measure("fresh")]

    import __spark_entry__ as entry  # imports every registry module
    out.append(measure("registry_imported"))

    queries = entry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in ("pricing_summary", "dedup_minhash_lsh", "similarity_topk",
                 "bpe_encode_segments", "image_ahash_pairs",
                 "gopher_quality_flags", "curation_pipeline_v2",
                 "mmr_diverse_selection"):
        queries[name](spark, sf_dir).write.mode("overwrite") \
            .format("noop").save()
    out.append(measure("post_bench_slice"))

    print(json.dumps({"n_msgs": len(msgs), "runs": runs, "contexts": out}))


if __name__ == "__main__":
    main()
