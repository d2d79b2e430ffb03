#!/usr/bin/env python
"""Per-query construction-vs-execution profile at sf0.1 (guide §1).

Construction = the registry callable's own driver-side work (k-means
training collects, CC union-find, plan building); execution = the noop
write of the returned frame.  Both matter to the bench, which times the
sum; knowing the split says whether to attack Spark jobs issued during
construction or the final plan.

Usage: python scripts/profile_r11.py -q name [name ...] [--runs 2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-q", "--queries", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from defi_etl_platform_sqlglot_implementation__spark import session

    spark = session(cpus, "r11-profile",
                    driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from defi_etl_platform_sqlglot_implementation__spark.functions.hex import (
        hex_to_double,
    )

    queries = entry.queries()
    # warm-up: JVM codegen + full-width Python workers (bench parity)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (spark.range(int(cpus) * 1000).repartition(int(cpus))
     .select(hex_to_double(F.format_string("%x", "id")))
     .write.mode("overwrite").format("noop").save())

    for name in args.queries:
        best = (float("inf"), float("inf"), float("inf"))
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name}: construct")
            t0 = time.time()
            df = queries[name](spark, args.sf)
            t1 = time.time()
            spark.sparkContext.setJobDescription(f"{name}: execute")
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            spark.sparkContext.setJobDescription(None)
            tot = t2 - t0
            if tot < best[2]:
                best = (t1 - t0, t2 - t1, tot)
        print(f"{name:38s} construct={best[0]:7.3f}  exec={best[1]:7.3f}  "
              f"total={best[2]:7.3f}", flush=True)


if __name__ == "__main__":
    main()
