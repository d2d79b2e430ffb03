"""Selector -> function-name lookup (reference etl_pipeline.py:41-47).

Two idiomatic Spark forms of the same 5-entry dict:

- ``token_standards_sql``: a SQL ``map(...)`` literal — Catalyst
  constant-folds the lookup into the projection; zero shuffle, stays in
  codegen. This is the right shape for a literal this small at any scale.
  ``token_standards_col`` is its one-column form.
- ``token_standards_df``: the same mapping as a tiny DataFrame for an explicit
  ``broadcast`` hash join, the pattern that generalizes when the lookup grows
  beyond a literal (SURVEY.md §2.3 J3).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bronze import local_frame

TOKEN_STANDARDS = {
    "0xa9059cbb": "ERC20.transfer",
    "0x23b872dd": "ERC20.transferFrom",
    "0x095ea7b3": "ERC20.approve",
    "0x42842e0e": "ERC721.safeTransferFrom",
    "0xf242432a": "ERC1155.safeTransferFrom",
}

def token_standards_sql(selector: str) -> str:
    """Map lookup with the reference's ``.fillna("unknown")`` semantics;
    ``selector`` and the result are SQL text."""
    pairs = ", ".join(f"'{x}'" for x in chain.from_iterable(TOKEN_STANDARDS.items()))
    return f"coalesce(map({pairs})[{selector}], 'unknown')"


def token_standards_col(selector: str) -> Column:
    """:func:`token_standards_sql` as a column; ``selector`` is a SQL
    expression (a column name is one)."""
    return F.expr(token_standards_sql(selector))


def token_standards_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, TOKEN_STANDARDS.items(), "fn_selector string, fn_name string")
