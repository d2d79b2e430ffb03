#!/usr/bin/env python
"""Local emulation of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where present,
its ``oracle_sql()`` twin on DuckDB over the same parquet tables; compares
row count, sorted column names, and an order-insensitive value comparison
(exact after normalization; reports approx-only matches separately so
float-parity risks surface before the real driver runs).

Usage: python scripts/check_oracle.py [--sf /root/testdata/sf0.001]
           [-q name ... | --changed | --sweep N]

``--changed`` runs the gates ``scripts/ledger.py changed`` lists: those whose
fingerprint moved since their last green round, or that were never green.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    sort_cols = list(df.columns)
    df = df.sort_values(by=sort_cols, kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame) -> dict:
    out = {"rows": (len(spark_pd), len(oracle_pd)),
           "rows_match": len(spark_pd) == len(oracle_pd)}
    a, b = normalize(spark_pd), normalize(oracle_pd)
    out["schema_match"] = list(a.columns) == list(b.columns)
    if not (out["rows_match"] and out["schema_match"]):
        out["value_match"] = False
        out["detail"] = f"spark cols {list(a.columns)} vs oracle {list(b.columns)}"
        return out
    exact = True
    approx = True
    first_diff = None

    def _kind(s: pd.Series) -> str:
        if pd.api.types.is_bool_dtype(s):
            return "bool"
        if pd.api.types.is_integer_dtype(s):
            return "int"
        if pd.api.types.is_float_dtype(s):
            return "float"
        return "other"

    for c in a.columns:
        # dtype-strict: the driver's value hash distinguishes int 41870
        # from float 41870.0 (DuckDB SUM(BIGINT) -> HUGEINT -> float64 in
        # fetchdf vs Spark bigint -> int64). An int-vs-float dtype split
        # is therefore a FAIL here even when the values compare equal —
        # r04 proved the lenient object-path comparison let exactly this
        # class pass locally and fail at the driver.
        ka, kb = _kind(a[c]), _kind(b[c])
        if ka != kb and {ka, kb} <= {"int", "float", "bool"}:
            exact = approx = False
            first_diff = first_diff or (
                c, f"dtype {a[c].dtype}", f"dtype {b[c].dtype}")
            continue
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
            if not eq.all():
                exact = False
                close = np.isclose(av.astype(float), bv.astype(float),
                                   rtol=1e-9, atol=1e-12, equal_nan=True)
                if not close.all():
                    approx = False
                    i = int(np.argmin(close))
                    first_diff = first_diff or (c, av[i], bv[i])
                else:
                    i = int(np.argmin(eq))
                    first_diff = first_diff or (c, av[i], bv[i])
        else:
            an = pd.Series(av).astype(object).where(pd.Series(av).notna(), None)
            bn = pd.Series(bv).astype(object).where(pd.Series(bv).notna(), None)
            neq = [x != y and not (x is None and y is None) for x, y in zip(an, bn)]
            if any(neq):
                exact = approx = False
                i = neq.index(True)
                first_diff = first_diff or (c, an[i], bn[i])
    out["value_match"] = exact
    out["approx_only"] = (not exact) and approx
    if first_diff is not None:
        out["detail"] = f"col {first_diff[0]}: spark={first_diff[1]!r} oracle={first_diff[2]!r}"
    return out


def _proc_tree_rss_kb() -> int:
    """RSS of this process plus every descendant (the Spark JVM and its
    Python workers are children), via /proc — no psutil in the container.
    This is the quantity whose unbounded growth burned 25 of r5's 50
    driver oracle slots (host OOM), so the soak mode tracks it per gate."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * 4  # 4 KiB pages -> KiB
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total


def _mem_available_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1])
    return -1


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    pick = ap.add_mutually_exclusive_group()
    pick.add_argument("-q", "--queries", nargs="*", default=None)
    pick.add_argument("--changed", action="store_true",
                      help="run the gates `scripts/ledger.py changed` lists")
    pick.add_argument("--sweep", type=int, default=None, metavar="N",
                    help="soak mode: run the FIRST N entries of "
                         "__spark_entry__.queries() — the exact order the "
                         "driver's correctness window uses — in ONE "
                         "SparkSession, printing process-tree RSS and host "
                         "MemAvailable after every gate.  Reproduces (or "
                         "proves fixed) the r5 sweep OOM before the real "
                         "driver runs.")
    return ap.parse_args(argv)


def gate_names(args: argparse.Namespace, queries: list[str]) -> list[str]:
    """The gates to run, given ``queries`` in window order."""
    if args.changed:
        from defi_etl_platform_sqlglot_implementation__spark import gates

        return gates.changed()
    if args.sweep is not None:
        return queries[: args.sweep]
    return args.queries or queries


def main() -> int:
    args = parse_args()

    import __spark_entry__ as entry
    from defi_etl_platform_sqlglot_implementation__spark import session

    # local mode = driver JVM does everything; the 1g default dies at
    # the 10x stress scale (scripts/make_stress.py) mid-sweep
    spark = session(8, "check-oracle", driver_memory="12g")

    def fresh_con():
        # a FRESH connection per oracle: DuckDB working memory (hash
        # tables, recursive-CTE state, string heaps) accumulates across
        # queries on a shared connection and a long sweep next to a
        # Spark JVM eventually dies with OutOfMemoryException on queries
        # that pass in isolation — observed on the 178-query sweep.
        # Views are cheap to re-create; the parquet page cache is the
        # OS's, not the connection's, so re-connecting costs ~ms.
        c = duckdb.connect()
        # 24GB default keeps a full sweep safe NEXT TO the Spark JVM;
        # $SPARK_GRAFT_DUCK_MEM raises it for solo retries of the two
        # sf1-heavy recursive/media oracles that exceed 24GB even with
        # disk spill (cross_modal_dedup, ingest_transitivity_gap).
        c.execute("SET memory_limit='%s'"
                  % os.environ.get("SPARK_GRAFT_DUCK_MEM", "24GB"))
        for t in TABLES:
            # Spark-written tables are DIRECTORIES of part files; DuckDB
            # needs the glob form (single-file driver testdata unchanged)
            path = f"{args.sf}/{t}.parquet"
            if Path(path).is_dir():
                path = f"{path}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return c

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = gate_names(args, list(queries))
    n_pass = n_fail = n_approx = n_rowsonly = 0
    rss0 = _proc_tree_rss_kb() if args.sweep is not None else 0
    rss_peak = rss_end = rss0

    def soak_line() -> None:
        nonlocal rss_peak, rss_end
        if args.sweep is None:
            return
        rss_end = _proc_tree_rss_kb()
        rss_peak = max(rss_peak, rss_end)
        print(f"      rss_tree={rss_end / 1048576:.2f}GiB "
              f"(d{(rss_end - rss0) / 1048576:+.2f}) "
              f"mem_avail={_mem_available_kb() / 1048576:.2f}GiB")

    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            soak_line()
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle — rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            soak_line()
            continue
        con = None
        try:
            con = fresh_con()
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: oracle raised {type(exc).__name__}: {exc}")
            n_fail += 1
            soak_line()
            continue
        finally:
            # close on BOTH paths: a failing oracle must not keep its
            # working memory alive across the next query's Spark run
            if con is not None:
                con.close()
        r = compare(sdf, odf)
        dt = time.time() - t0
        if r["value_match"]:
            print(f"OK    {name}: {r['rows'][0]} rows exact [{dt:.1f}s]")
            n_pass += 1
        elif r.get("approx_only"):
            print(f"~OK   {name}: {r['rows'][0]} rows APPROX ONLY — float risk! "
                  f"{r.get('detail','')} [{dt:.1f}s]")
            n_approx += 1
        else:
            print(f"FAIL  {name}: rows {r['rows']}, schema_match={r['schema_match']} "
                  f"{r.get('detail','')} [{dt:.1f}s]")
            n_fail += 1
        soak_line()
    print(f"\n{n_pass} exact, {n_approx} approx-only, {n_rowsonly} rows-only, "
          f"{n_fail} fail / {len(names)} total")
    if args.sweep is not None:
        print(f"soak: rss start {rss0 / 1048576:.2f}GiB, "
              f"end {rss_end / 1048576:.2f}GiB, peak {rss_peak / 1048576:.2f}GiB "
              f"(growth {(rss_end - rss0) / 1048576:+.2f}GiB over "
              f"{len(names)} gates)")
    return 1 if n_fail or n_approx else 0


if __name__ == "__main__":
    sys.exit(main())
