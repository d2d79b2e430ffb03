#!/usr/bin/env python
"""Capture .explain("formatted") for queries into plans/<tag>/.

Usage: python scripts/dump_plans.py --tag r13 [--suffix before|after]
                                    [--sf DIR] [--cpus N] [-q name ...]

Dumps every ``bench.BENCH_QUERIES`` entry unless -q names the queries.
Defaults to sf0.1: at sf0.001 single-partition inputs satisfy every
required distribution trivially, so the exchanges a plan claim is about
never appear.  Query construction for the CC/kmeans/BPE gates runs
driver-side jobs, so dumping at sf0.1 costs real compute — pass -q to
scope the run to the queries under study.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="output dir plans/<tag>/")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    args = ap.parse_args()
    # `-q` with zero names is a scoping mistake, not a request for the
    # full (expensive at sf0.1) bench sweep
    if args.queries is not None and not args.queries:
        ap.error("-q given without query names; omit -q to dump the bench set")

    import bench
    import __spark_entry__ as entry
    from defi_etl_platform_sqlglot_implementation__spark import session

    spark = session(args.cpus, "plan-dump")
    queries = entry.queries()
    out_dir = ROOT / "plans" / args.tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in args.queries or bench.BENCH_QUERIES:
        try:
            df = queries[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — record the failure
            text = f"PLAN CAPTURE FAILED: {exc!r}\n"
        (out_dir / f"{name}_{args.suffix}.txt").write_text(text)
        print(f"wrote {name}_{args.suffix}.txt ({len(text)} bytes)")


if __name__ == "__main__":
    main()
