"""Persisted-frame ownership invariants: every persisted frame is
registered for scope release BEFORE its fill job runs, so a fill that
throws cannot pin persisted frames for the session lifetime."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.operators import (
    materialize,
)
from defi_etl_platform_sqlglot_implementation__spark.operators.bpe import train_bpe

ROOT = Path(__file__).resolve().parent.parent


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


def test_unpersist_on_a_stopped_session_ends_in_a_diagnosis(tmp_path):
    """Failure injection: a scoped frame outlives its SparkContext.  The
    next scope boundary must not fail on it, and must say why nothing was
    released.  Runs in its own process: stopping the shared test session
    would end every later test."""
    script = tmp_path / "stopped.py"
    script.write_text(textwrap.dedent("""
        import warnings
        from defi_etl_platform_sqlglot_implementation__spark import session
        from defi_etl_platform_sqlglot_implementation__spark.operators import materialize

        spark = session(1, "stopped-session")
        materialize.scoped_persist(spark.range(10))
        spark.stop()
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            print("released", materialize.release_scoped(), "left", len(materialize._SCOPED))
        for w in seen:
            print(w.category.__name__, w.message)
    """))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])}
    out = subprocess.run([sys.executable, str(script)], capture_output=True, text=True,
                         env=env, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "released 0 left 0" in out.stdout, out.stdout
    assert ("RuntimeWarning release_scoped: 1 frame(s) belong to a stopped SparkContext"
            in out.stdout), out.stdout


def test_lazy_persists_use_the_package_level(spark, monkeypatch):
    from pyspark.storagelevel import StorageLevel

    from defi_etl_platform_sqlglot_implementation__spark.operators import similarity
    from defi_etl_platform_sqlglot_implementation__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame([("abab abab",), ("abba",)], "text string")
    with materialize.material_scope():
        _, seqs = train_bpe(docs, n_merges=2)
        assert seqs.storageLevel == StorageLevel.DISK_ONLY

    levels = []

    def spy(df):
        out = materialize.lazy_persist(df)
        levels.append(out.storageLevel)
        return out

    monkeypatch.setattr(similarity, "lazy_persist", spy)
    emb = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(8)],
                                "vec_id long, embedding array<double>")
    with materialize.material_scope():
        similarity.kmeans_micro(emb, k=2, iters=1).collect()
    assert levels == [StorageLevel.DISK_ONLY]

    docs = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    with materialize.material_scope():
        minhash_lsh_pairs(docs).collect()
        assert [df.storageLevel for df in materialize._SCOPED] == [StorageLevel.DISK_ONLY] * 3
