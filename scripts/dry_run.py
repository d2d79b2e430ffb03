#!/usr/bin/env python
"""Dry-run / CI smoke — the Spark analog of the reference's
``scripts/run_pipeline.py --dry-run`` path (run_pipeline.py:46-57):
validate the canonical queries, emit every dialect, sanity-check the IL
model — plus what the reference can't do: parse AND analyze the queries
against a live catalog, and run the whole oracle-gated query registry's
plans through the analyzer.

Exit code 0 = everything validates.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    from defi_etl_platform_sqlglot_implementation__spark import gates, registry, session
    from defi_etl_platform_sqlglot_implementation__spark.operators.risk import il_scan
    from defi_etl_platform_sqlglot_implementation__spark.plans import (
        CANONICAL_QUERIES,
        DIALECTS,
        transpile,
        validate_sql,
    )
    from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
        UnsupportedConstructError,
    )

    gates.discover()
    spark = session(4, "defi-spark-dry-run")
    failures = 0

    # 1. canonical SQL parses in the executing dialect
    for name, sql in CANONICAL_QUERIES.items():
        errs = validate_sql(spark, sql)
        status = "ok" if not errs else f"PARSE ERRORS: {errs}"
        failures += bool(errs)
        print(f"canonical {name}: {status}")

    # 2. all-dialect emission (the reference's CI transpile smoke)
    for name, sql in CANONICAL_QUERIES.items():
        for d in DIALECTS:
            try:
                print(f"transpile {name} -> {d}: {len(transpile(sql, d))} chars")
            except UnsupportedConstructError as exc:
                failures += 1
                print(f"transpile {name} -> {d}: UNSUPPORTED {exc}")

    # 3. IL model sanity (reference run_pipeline.py:50-56)
    row = il_scan(spark, ratios=[2.0]).collect()[0]
    ok = abs(row["il_pct"] - (-5.719095841793653)) < 1e-9
    failures += not ok
    print(f"il model 2x: {row['il_pct']:.6f}% {'ok' if ok else 'MISMATCH'}")

    # 4. every registry query's plan analyzes against the sf0.001 tables
    sf = "/root/testdata/sf0.001"
    for name, fn in registry.QUERIES.items():
        try:
            fn(spark, sf).schema  # analysis only, no execution
            print(f"analyze {name}: ok")
        except Exception as exc:
            failures += 1
            print(f"analyze {name}: FAILED {type(exc).__name__}: {exc}")

    print(f"\ndry-run {'PASSED' if not failures else f'FAILED ({failures})'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
