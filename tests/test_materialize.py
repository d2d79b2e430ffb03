"""Persisted-frame ownership invariants: every persisted frame is
registered for scope release BEFORE its fill job runs, so a fill that
throws cannot pin persisted frames for the session lifetime."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.operators import (
    materialize,
)
from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import train_bpe


def _scoped_snapshot() -> list:
    return list(materialize._SCOPED)


def test_all_frames_registered_and_released_on_success(spark):
    before = _scoped_snapshot()
    a = spark.range(10).select(F.col("id").alias("a"))
    b = spark.range(10).select(F.col("id").alias("b"))
    out = materialize.scoped_persist_all([a, b])
    assert len(out) == 2
    new = [df for df in materialize._SCOPED if df not in before]
    assert len(new) == 2
    for df in out:
        assert df.storageLevel.useDisk or df.storageLevel.useMemory
    released = materialize.release_scoped()
    assert released >= 2
    assert not materialize._SCOPED


def test_failing_fill_still_leaves_frames_releasable(spark):
    """A fill job that throws must NOT leak the persisted frames: both
    are already in _SCOPED, so the next scope boundary releases them."""

    @F.udf("long")
    def boom(v):
        raise ValueError("deliberate fill failure")

    ok = spark.range(10).select(F.col("id").alias("a"))
    bad = spark.range(10).select(boom(F.col("id")).alias("a"))
    before = len(materialize._SCOPED)
    with pytest.raises(Exception):
        materialize.scoped_persist_all([ok, bad])
    # both frames were registered BEFORE the fills ran
    assert len(materialize._SCOPED) == before + 2
    # and the scope boundary can still release them (lineage survives;
    # an unfilled frame just recomputes if ever re-read)
    released = materialize.release_scoped()
    assert released >= 2
    assert not materialize._SCOPED


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_failing_scoped_persist_pins_nothing(spark):
    materialize.release_scoped()
    before = _persistent_rdds(spark)
    bad = spark.range(10).select(
        F.raise_error(F.lit("deliberate fill failure")).cast("long").alias("a"))
    with pytest.raises(Exception, match="deliberate fill failure"):
        materialize.scoped_persist(bad)
    materialize.release_scoped()
    assert _persistent_rdds(spark) == before


def test_train_bpe_failing_first_fill_pins_nothing(spark):
    # The raise sits below the word-count shuffle.  With AQE the shuffle
    # stage runs, and fails, before the cached RDD exists; without it the
    # cached RDD is built and persisted first, then its fill job fails.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        materialize.release_scoped()
        before = _persistent_rdds(spark)
        docs = spark.range(5).select(
            F.raise_error(F.lit("deliberate fill failure")).cast("string").alias("text"))
        with pytest.raises(Exception, match="deliberate fill failure"):
            with materialize.material_scope():
                train_bpe(docs, n_merges=2)
        assert _persistent_rdds(spark) == before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
