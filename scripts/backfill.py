#!/usr/bin/env python
"""Historical backfill job — the Spark analog of the reference's
scripts/backfill.py (block-range loop, batch-size 100, per-block
skip-on-failure).

Here the block range is ONE declarative filter pushed into the scan
(partition/rowgroup pruning does the chunking the reference hand-rolled),
failure isolation is Spark task retry, and outputs land as parquet bronze.

Usage:
  python scripts/backfill.py --input <events parquet/json dir> \
      --output <dir> --start-block N --end-block M [--json]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run_backfill(spark, input_path: str, output_dir: str, start_block: int,
                 end_block: int, is_json: bool = False) -> dict[str, int]:
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.pipeline import run_batch
    from defi_etl_platform_sqlglot_implementation__spark.schemas import ENVELOPE
    from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import parse_raw_events

    if is_json:
        raw = spark.read.text(input_path)
        events = parse_raw_events(raw)
    else:
        events = spark.read.schema(ENVELOPE).parquet(input_path)

    events = events.filter(F.col("block_number").between(start_block, end_block))
    results = run_batch(spark, events, register_views=False, execute_sql=False)

    counts = {}
    for name in ("transfers", "swaps", "transactions", "block_agg"):
        df = results[name]
        df.write.mode("overwrite").parquet(f"{output_dir}/{name}")
        counts[name] = spark.read.parquet(f"{output_dir}/{name}").count()
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--start-block", type=int, default=0)
    ap.add_argument("--end-block", type=int, default=2**62)
    ap.add_argument("--json", action="store_true",
                    help="input is newline-delimited JSON events")
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()

    from defi_etl_platform_sqlglot_implementation__spark import session

    spark = session(args.cpus, "defi-spark-backfill")
    counts = run_backfill(spark, args.input, args.output,
                          args.start_block, args.end_block, args.json)
    print(counts)


if __name__ == "__main__":
    main()
