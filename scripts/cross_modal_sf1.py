#!/usr/bin/env python
"""Decomposed sf1 oracle for ``cross_modal_dedup`` (VERDICT r10 #3).

The gate's registered DuckDB twin is ONE fused query: shingle pair
generation + brute image-hash pairing + a recursive reach closure in a
single ``WITH RECURSIVE`` scope.  At sf1 (50k docs) that scope OOM'd the
24 GB sweep cap and ground 28+ minutes at 90 GB — the recursion's
working table keeps the whole shingle/pair state alive.  The oracle COST
is the problem, not the semantics, so this script evaluates the SAME
semantics decomposed:

1. materialize the text pair list (exact 3-gram Jaccard >= 0.5 — the
   ``tpairs`` CTE verbatim) into a DuckDB table, releasing shingle state;
2. materialize the image pair list (brute 64-bit aHash Hamming <= 3 —
   the ``ipairs`` CTE verbatim) the same way;
3. run the transitive closure over the MATERIALIZED edge union with a
   driver-side union-find (the pair list is cluster-count-sized, tiny
   even at sf1), exactly the min-label semantics of the ``reach`` CTE;
4. assemble the per-doc report (joint_cluster / keep / img_dup /
   txt_dup / modality — column-for-column the registered oracle's
   SELECT) in pandas;
5. run the Spark gate over the same parquet dir and compare with
   scripts.check_oracle.compare — the identical dtype-strict,
   order-insensitive gate the driver emulation applies.

Each pair CTE is imported from the registry modules, so this script can
never drift from the fused twin: it holds no query text of its own
beyond the final SELECT assembly.

Usage: python scripts/cross_modal_sf1.py [--sf /root/repo/stress_sf1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from defi_etl_platform_sqlglot_implementation__spark.registry_llm import (  # noqa: E402
    _SHINGLES_CTE,
)
from defi_etl_platform_sqlglot_implementation__spark.registry_media import (  # noqa: E402
    _IMAGE_HASH_CTES,
)
from scripts.check_oracle import compare  # noqa: E402

_TPAIRS_SQL = f"""
    WITH {_SHINGLES_CTE}
    SELECT d1, d2
    FROM ipair
    JOIN sz sa ON sa.doc_id = d1
    JOIN sz sb ON sb.doc_id = d2
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 5e-1
"""

_IPAIRS_SQL = f"""
    WITH {_IMAGE_HASH_CTES}
    SELECT a.doc_id AS d1, b.doc_id AS d2
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.band0, b.band0))
        + bit_count(xor(a.band1, b.band1))
        + bit_count(xor(a.band2, b.band2))
        + bit_count(xor(a.band3, b.band3)) <= 3
"""


def _union_find_min_label(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the MIN id as the root — the reach CTE's MIN(dst)
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in parent}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/stress_sf1")
    args = ap.parse_args()

    con = duckdb.connect()
    con.execute("SET memory_limit='%s'"
                % os.environ.get("SPARK_GRAFT_DUCK_MEM", "24GB"))
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{args.sf}/documents.parquet/*.parquet'"
                if Path(f"{args.sf}/documents.parquet").is_dir() else
                f"CREATE VIEW documents AS SELECT * "
                f"FROM '{args.sf}/documents.parquet'")

    t0 = time.time()
    con.execute(f"CREATE TABLE tp AS {_TPAIRS_SQL}")
    n_tp = con.execute("SELECT COUNT(*) FROM tp").fetchone()[0]
    print(f"text pairs: {n_tp} [{time.time() - t0:.1f}s]", flush=True)

    t1 = time.time()
    con.execute(f"CREATE TABLE ip AS {_IPAIRS_SQL}")
    n_ip = con.execute("SELECT COUNT(*) FROM ip").fetchone()[0]
    print(f"image pairs: {n_ip} [{time.time() - t1:.1f}s]", flush=True)

    edges = con.execute(
        "SELECT d1, d2 FROM tp UNION SELECT d1, d2 FROM ip").fetchall()
    labels = _union_find_min_label([(int(a), int(b)) for a, b in edges])
    img_docs = {int(r[0]) for r in con.execute(
        "SELECT d1 FROM ip UNION SELECT d2 FROM ip").fetchall()}
    txt_docs = {int(r[0]) for r in con.execute(
        "SELECT d1 FROM tp UNION SELECT d2 FROM tp").fetchall()}
    doc_ids = [int(r[0]) for r in con.execute(
        "SELECT doc_id FROM documents").fetchall()]

    rows = []
    for d in doc_ids:
        cl = labels.get(d, d)
        im, tx = d in img_docs, d in txt_docs
        rows.append((d, cl, cl == d, im, tx,
                     "both" if im and tx else
                     "image" if im else "text" if tx else "none"))
    oracle_pd = pd.DataFrame(
        rows, columns=["doc_id", "joint_cluster", "keep",
                       "img_dup", "txt_dup", "modality"])
    oracle_pd["doc_id"] = oracle_pd.doc_id.astype("int64")
    oracle_pd["joint_cluster"] = oracle_pd.joint_cluster.astype("int64")

    print("building spark session...", flush=True)
    from defi_etl_platform_sqlglot_implementation__spark import session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session(cpus, "cross-modal-sf1",
                    driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    import __spark_entry__ as entry

    t2 = time.time()
    spark_pd = entry.queries()["cross_modal_dedup"](
        spark, args.sf).toPandas()
    dt_spark = time.time() - t2
    res = compare(spark_pd, oracle_pd)
    status = ("EXACT" if res.get("value_match")
              else "APPROX" if res.get("approx_only") else "FAIL")
    print(f"cross_modal_dedup @ {args.sf}: {status} "
          f"rows={res['rows']} spark={dt_spark:.1f}s "
          f"(decomposed oracle: tp={n_tp} ip={n_ip}) "
          f"{res.get('detail', '')}", flush=True)
    return 0 if status == "EXACT" else 1


if __name__ == "__main__":
    raise SystemExit(main())
