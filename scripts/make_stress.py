#!/usr/bin/env python
"""Synthesize an sf1-scale stress copy of the driver tables (10x sf0.1).

The correctness gate compares Spark vs DuckDB on the SAME files, so any
internally-consistent synthesis works; realism is not required, scale is.
Shape choices, per table:

- region/nation stay 1x (fixed-cardinality dims — they'd be broadcast at
  any scale; inflating them would change the plans we actually want).
- Fact/entity tables get 10 copies with every BIGINT key shifted by
  i*10_000_000, so referential joins stay consistent within a copy and
  never collide across copies.
- documents: copy i>0 prefixes every token with "c{i}" (and recomputes
  n_chars), so shingle/minhash/simhash dedup outputs replicate per copy
  instead of exploding quadratically across copies — group sizes per
  shingle grow 10x linearly, pair counts do NOT go 100x.
- embeddings: copies keep identical vectors. Every query vector gains 9
  exact clones at cosine 1.0 — a deliberate tie-handling stress for
  topk/IVF/LSH (tie-break on neighbor_id must hold on both engines).
- events keep their timestamps (group count stays ~1440 hours; each
  group gets 10x the rows — an aggregation-depth stress, not a
  group-explosion one).

Usage: python scripts/make_stress.py [--out /root/repo/stress_sf1]
                                     [--src /root/testdata/sf0.1] [--copies 10]
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from defi_etl_platform_sqlglot_implementation__spark import session  # noqa: E402

OFF = 10_000_000

SHIFT_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

COPY_1X = ("region", "nation")


def one_copy(df: DataFrame, table: str, i: int) -> DataFrame:
    out = df
    for k in SHIFT_KEYS[table]:
        out = out.withColumn(k, (F.col(k) + F.lit(i * OFF)).cast("long"))
    if table == "documents" and i > 0:
        toked = F.transform(F.split("text", " "),
                            lambda x: F.concat(F.lit(f"c{i}"), x))
        out = (out.withColumn("text", F.array_join(toked, " "))
               .withColumn("n_chars", F.length("text").cast("long")))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/stress_sf1")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    spark = session(16, "make-stress")
    out_dir = Path(args.out)
    if out_dir.exists():
        shutil.rmtree(out_dir)
    out_dir.mkdir(parents=True)

    for table in COPY_1X:
        df = spark.read.parquet(f"{args.src}/{table}.parquet")
        df.coalesce(1).write.parquet(str(out_dir / f"{table}.parquet"))
        print(f"{table}: {df.count()} rows (1x)")

    for table in SHIFT_KEYS:
        df = spark.read.parquet(f"{args.src}/{table}.parquet")
        full = one_copy(df, table, 0)
        for i in range(1, args.copies):
            full = full.unionByName(one_copy(df, table, i))
        nfiles = 8 if table in ("lineitem", "events", "orders") else 2
        full.repartition(nfiles).write.parquet(str(out_dir / f"{table}.parquet"))
        print(f"{table}: {full.count()} rows ({args.copies}x)")

    spark.stop()


if __name__ == "__main__":
    main()
