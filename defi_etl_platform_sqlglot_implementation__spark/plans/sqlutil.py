"""SQL validation utilities (SURVEY.md §2.11 Q3, Q4).

``validate_sql`` uses Spark's own parser — the analog of the reference's
``sqlglot.parse`` error collection (etl_pipeline.py:353-361), but against
the engine that will actually execute the text.  Emitting SQL for another
dialect is the rule transpiler's job (``plans.transpiler.transpile``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def validate_sql(spark: SparkSession, sql: str) -> list[str]:
    """Parse (not execute) SQL; return syntax errors as strings — mirrors
    SQLGlotQueryBuilder.validate_sql (etl_pipeline.py:353-361)."""
    try:
        spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        return []
    except Exception as exc:  # ParseException surfaces via py4j
        return [str(exc).splitlines()[0] if str(exc) else repr(exc)]


def analyze_sql(spark: SparkSession, sql: str) -> list[str]:
    """Parse + analyze against the catalog (dry-run mode, SURVEY §2.11 Q4):
    returns resolution errors (missing tables/columns) without executing."""
    try:
        spark.sql(sql).schema  # forces analysis, not execution
        return []
    except Exception as exc:
        return [str(exc).splitlines()[0] if str(exc) else repr(exc)]
