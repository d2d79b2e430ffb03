"""Hex-decode helpers: uint256/int64 decode in the JVM, EIP-55 in Python.

SURVEY.md §2.10: after rewriting everything else to built-ins, the custom
surface was (1) uint256-hex -> float64 and (2) EIP-55 checksumming. The
first is now plain SQL over ``conv`` and decimal casts that stays inside
whole-stage codegen; only EIP-55 (keccak) remains a Python UDF,
Arrow-batched (never row-at-a-time ``udf``).

The decoders are SQL text (``hex_to_double_sql``/``hex_to_long_sql``) that
a caller embeds in its own projection (``selectExpr``, ``F.expr``), with
``hex_to_double``/``hex_to_long`` as the one-column form.  One parsed
string costs one py4j call; the same tree built from ``functions`` calls
costs one call per node, each with PySpark's call-site capture.

Numeric semantics deliberately match the reference: token amounts are
``int(hex, 16)`` then degraded to float64 (reference etl_pipeline.py:97,129),
i.e. the correctly-rounded nearest double. ``hex_to_double`` gets there with
one rounding: the top 16 significant nibbles become an exact
``decimal(20,0)``, a sticky low bit records whether any lower nibble is
non-zero (the top nibble is non-zero, so the value has >= 61 bits and the
low bit sits below every rounding boundary), the decimal -> double cast
rounds once to nearest-even, and the power-of-two scale is exact.

Input contract (both decoders): an optional ``0x``/``0X`` prefix followed
by hex digits; null, ``''`` and ``'0x'`` are 0 (null stays NULL for
``hex_to_long``). Anything else -- signs, whitespace, underscores, non-hex
characters -- is malformed: NaN for ``hex_to_double``, NULL for
``hex_to_long``. A value above int64 is NULL for ``hex_to_long``; values of
2**1024 and more are +inf for ``hex_to_double``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..worker import install_zip_stamps
from .keccak import to_checksum_address as _checksum

_TOP = 16  # nibbles conv turns into an exact unsigned 64-bit value


def _digits(h: str) -> tuple[str, str]:
    """(hex digits without the prefix, the same without leading zeros)."""
    body = f"regexp_replace({h}, '^0[xX]', '')"
    return body, f"regexp_replace({body}, '^0+', '')"


def hex_to_double_sql(h: str) -> str:
    """uint256 hex string -> float64, exactly ``float(int(h, 16))``; ``h``
    and the result are SQL text."""
    body, d = _digits(h)
    top = f"CAST(conv(substring({d}, 1, {_TOP}), 16, 10) AS DECIMAL(20,0))"
    sticky = f"{d} RLIKE '^.{{{_TOP}}}.*[^0]' AND {top} % 2 = 0"
    return (f"CASE WHEN {h} IS NULL OR length({d}) = 0 THEN 0.0D"
            f" WHEN NOT {body} RLIKE '^[0-9a-fA-F]*$' THEN double('NaN')"
            f" ELSE CAST({top} + IF({sticky}, 1, 0) AS DOUBLE)"
            f" * pow(2.0D, greatest(length({d}) - {_TOP}, 0) * 4) END")


def hex_to_long_sql(h: str) -> str:
    """hex string -> int64 (token ids; reference etl_pipeline.py:86); NULL
    when malformed or above int64.  ``h`` and the result are SQL text."""
    body, d = _digits(h)
    ok = f"{body} RLIKE '^[0-9a-fA-F]*$'"
    fits = f"length({d}) < {_TOP} OR (length({d}) = {_TOP} AND substring({d}, 1, 1) < '8')"
    return (f"CASE WHEN {ok} AND length({d}) = 0 THEN 0L"
            f" WHEN {ok} AND ({fits}) THEN CAST(conv({d}, 16, 10) AS BIGINT) END")


def hex_to_double(h: str) -> Column:
    """:func:`hex_to_double_sql` as a column; ``h`` is a SQL expression
    (a column name is one)."""
    return F.expr(hex_to_double_sql(h))


def hex_to_long(h: str) -> Column:
    """:func:`hex_to_long_sql` as a column; ``h`` is a SQL expression."""
    return F.expr(hex_to_long_sql(h))


@pandas_udf(StringType())
def eip55_checksum(s: pd.Series) -> pd.Series:
    """EIP-55 checksum address (reference etl_pipeline.py:81-82).

    Uses the NumPy-vectorized single-block keccak when the batch is the
    normal shape (42-char 0x-addresses) — ~1000x the scalar throughput;
    falls back to the scalar implementation for irregular inputs.
    """
    install_zip_stamps()
    if len(s) and s.dropna().str.len().eq(42).all():
        from .keccak_batch import eip55_checksum_batch

        # dictionary-encode the Arrow batch first: keccak only the UNIQUE
        # addresses, then map back.  Row-local (no shuffle, works inside
        # any executor batch at any scale); pays one pd.unique() pass and
        # wins whenever addresses repeat within a batch — hot
        # contracts/wallets dominate real transfer streams, so per-batch
        # repetition is the norm, not a synthetic-data artifact.
        uniq = pd.Index(s.dropna().unique())
        if len(uniq) < len(s):
            mapped = pd.Series(
                eip55_checksum_batch(uniq.to_series().reset_index(drop=True))
                .to_numpy(), index=uniq)
            return s.map(mapped)
        return eip55_checksum_batch(s)
    return s.map(lambda a: None if a is None else _checksum(a))
