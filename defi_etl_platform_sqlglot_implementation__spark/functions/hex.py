"""Hex-decode helpers: uint256/int64 decode in the JVM, EIP-55 in Python.

SURVEY.md §2.10: after rewriting everything else to built-ins, the custom
surface was (1) uint256-hex -> float64 and (2) EIP-55 checksumming. The
first is now plain column algebra over ``conv`` and decimal casts that
stays inside whole-stage codegen; only EIP-55 (keccak) remains a Python
UDF, Arrow-batched (never row-at-a-time ``udf``).

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

from .keccak import to_checksum_address as _checksum

_TOP = 16  # nibbles conv turns into an exact unsigned 64-bit value


def _digits(h: Column) -> tuple[Column, Column]:
    """(well-formed?, significant hex digits without prefix or leading zeros)."""
    body = F.regexp_replace(h, "^0[xX]", "")
    return body.rlike("^[0-9a-fA-F]*$"), F.regexp_replace(body, "^0+", "")


def hex_to_double(col: Column | str) -> Column:
    """uint256 hex string -> float64, exactly ``float(int(h, 16))``."""
    h = F.col(col) if isinstance(col, str) else col
    ok, d = _digits(h)
    n = F.length(d)
    top = F.conv(F.substring(d, 1, _TOP), 16, 10).cast("decimal(20,0)")
    sticky = d.rlike(f"^.{{{_TOP}}}.*[^0]") & (top % 2 == 0)
    scale = F.pow(F.lit(2.0), F.greatest(n - _TOP, F.lit(0)) * 4)
    return (
        F.when(h.isNull() | (n == 0), F.lit(0.0))
        .when(~ok, F.lit(float("nan")))
        .otherwise((top + sticky.cast("int")).cast("double") * scale)
    )


def hex_to_long(col: Column | str) -> Column:
    """hex string -> int64 (token ids; reference etl_pipeline.py:86); NULL
    when malformed or above int64."""
    ok, d = _digits(F.col(col) if isinstance(col, str) else col)
    n = F.length(d)
    fits = (n < _TOP) | ((n == _TOP) & (F.substring(d, 1, 1) < "8"))
    return F.when(ok & (n == 0), F.lit(0).cast("long")).when(
        ok & fits, F.conv(d, 16, 10).cast("long"))


@pandas_udf(StringType())
def eip55_checksum(s: pd.Series) -> pd.Series:
    """EIP-55 checksum address (reference etl_pipeline.py:81-82).

    Uses the NumPy-vectorized single-block keccak when the batch is the
    normal shape (42-char 0x-addresses) — ~1000x the scalar throughput;
    falls back to the scalar implementation for irregular inputs.
    """
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


def topic_address(topic: Column) -> Column:
    """'0x' + last 40 hex chars of a 32-byte topic (etl_pipeline.py:81)."""
    return F.concat(F.lit("0x"), F.substring(topic, -40, 40))


def fn_selector(input_col: Column) -> Column:
    """First 10 chars ('0x' + 8 hex) of calldata (etl_pipeline.py:221)."""
    return F.substring(input_col, 1, 10)
