#!/usr/bin/env python
"""Price the connected_components driver-union-find threshold
(VERDICT r9 #5): sweep edge-list sizes across both paths — the
adaptive driver fast path (driver_max_edges high enough to bind) vs
the distributed min-label loop (driver_max_edges=0) — and record the
crossover, the same artifact discipline as bloom_fpr_curve /
minhash_k_error_sweep for what was r9's only un-priced heuristic.

Edge lists are near-dup-shaped: disjoint 4-cliques (6 edges each,
diameter 1 — the dominant real shape per cluster_diameter_report,
which measured ecc=1 for EVERY LSH cluster on the driver corpus),
generated distributively from spark.range so the sweep scales.  One
real consumer-shaped case (the sf0.1 LSH pair graph) is timed both
ways as the ground case.

Emits one JSON line per (n_edges, path) with min-of-N wall seconds;
paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SIZES = [1_000, 10_000, 100_000, 500_000, 1_000_000]
RUNS = int(os.environ.get("SPARK_GRAFT_CC_RUNS", "3"))


def _clique_edges(spark, n_edges: int):
    """Disjoint 4-cliques: 6 intra-clique edges each.  Edge i belongs to
    clique i//6 with within-clique pair index i%6; node ids are
    clique*4 + offset."""
    from pyspark.sql import functions as F

    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    a_case = "CASE " + " ".join(
        f"WHEN e = {i} THEN {p[0]}" for i, p in enumerate(pairs)) + " END"
    b_case = "CASE " + " ".join(
        f"WHEN e = {i} THEN {p[1]}" for i, p in enumerate(pairs)) + " END"
    return (
        spark.range(n_edges)
        .select((F.col("id") / 6).cast("long").alias("c"),
                (F.col("id") % 6).alias("e"))
        .select((F.col("c") * 4 + F.expr(a_case)).alias("d1"),
                (F.col("c") * 4 + F.expr(b_case)).alias("d2"))
    )


def main() -> None:
    from defi_etl_platform_sqlglot_implementation__spark import session
    from defi_etl_platform_sqlglot_implementation__spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session(cpus, "cc-crossover",
                    driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    out = []

    def _time(label: str, n_edges, build):
        # 2e9 fits the int32 limit() arg and exceeds every sweep size
        for path, dme in (("driver", 2_000_000_000), ("distributed", 0)):
            best = float("inf")
            for _ in range(RUNS):
                pairs = build()
                t0 = time.time()
                cc = connected_components(pairs, driver_max_edges=dme)
                n = cc.count()
                best = min(best, time.time() - t0)
            rec = {"case": label, "n_edges": n_edges, "path": path,
                   "sec": round(best, 3), "n_nodes": n,
                   "load1": round(os.getloadavg()[0], 2)}
            out.append(rec)
            print(json.dumps(rec), flush=True)

    for n_edges in SIZES:
        _time(f"cliques_{n_edges}", n_edges,
              lambda n=n_edges: _clique_edges(spark, n))

    # the real consumer shape: the sf0.1 LSH-verified pair graph
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs_df = minhash_lsh_pairs(docs, threshold=0.5).select("d1", "d2")
    pairs_df = pairs_df.persist()
    n_real = pairs_df.count()
    _time("lsh_sf01", n_real, lambda: pairs_df)
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    main()
