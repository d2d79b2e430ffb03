"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship hourly transfer-volume-shaped query
(SURVEY.md §2 A2/Q5) over sf0.001. ``queries()`` / ``oracle_sql()`` expose
every registered gate, each phrased over the driver's tables with a DuckDB
oracle twin (see ``defi_etl_platform_sqlglot_implementation__spark/registry.py``
for the float-parity policy), in the verification-window order that
``gates.py`` derives from ``GREEN_LEDGER.json``.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache

from pyspark.sql import DataFrame, SparkSession

from defi_etl_platform_sqlglot_implementation__spark import gates, registry

gates.discover()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["transfer_volume_hourly"](spark, "/root/testdata/sf0.001")


@cache
def _window() -> tuple[str, ...]:
    """Computed once per import: the fingerprint walk parses the package."""
    fps = gates.fingerprints(registry.QUERIES, registry.ORACLES)
    return tuple(gates.order(registry.QUERIES, registry.ORACLES, fps, gates.load_ledger()))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: registry.QUERIES[name] for name in _window()}


def oracle_sql() -> dict[str, str]:
    return {name: registry.ORACLES[name] for name in _window() if name in registry.ORACLES}
