#!/usr/bin/env python
"""Maintain GREEN_LEDGER.json, which orders the driver's verification window.

``record CORRECTNESS_rNN.json [...]`` stamps each hash-exact gate with its
current fingerprint and round NN; run it on the commit the driver verified.
``changed`` prints the oracle gates changed since their green row (or never
green), in window order; ``scripts/check_oracle.py --changed`` runs them.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from defi_etl_platform_sqlglot_implementation__spark import gates, registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("record").add_argument("files", nargs="+", type=Path)
    sub.add_parser("changed")
    args = ap.parse_args()

    if args.cmd == "changed":
        for name in gates.changed():
            print(name)
        return
    gates.discover()
    fps = gates.fingerprints(registry.QUERIES, registry.ORACLES)
    ledger = gates.load_ledger()
    for path in args.files:
        m = re.search(r"_r(\d+)\.json$", path.name) or ap.error(f"{path}: no _rNN round in the name")
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True and name in fps and rnd >= ledger.get(name, {}).get("round", 0):
                ledger[name] = {"fingerprint": fps[name], "round": rnd}
    rows = ",\n".join(f" {json.dumps(k)}: {json.dumps(ledger[k], sort_keys=True)}" for k in sorted(ledger))
    gates.LEDGER.write_text("{\n" + rows + "\n}\n")
    print(f"{gates.LEDGER.name}: {len(ledger)} green gates", file=sys.stderr)


if __name__ == "__main__":
    main()
