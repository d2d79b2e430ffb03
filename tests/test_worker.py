"""``worker.install_zip_stamps``: a reused Python worker re-reads a zip
archive's directory only when the archive changed.

The Spark tests count ``zipimport._read_directory`` calls from inside a
kernel.  A probe installs the counter in a worker the first time it runs
there; from then on it reports the calls since its last report, which
includes the directory reads of the task's own set-up.  Worker reuse is
not under the test's control, so each probe also reports its worker's pid
and the tests keep running tasks until reused workers have answered.
"""

import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark.core.files import SparkFiles
from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark import worker
from defi_etl_platform_sqlglot_implementation__spark.functions.hex import eip55_checksum
from defi_etl_platform_sqlglot_implementation__spark.operators.scale import _rolling_apply
from defi_etl_platform_sqlglot_implementation__spark.worker import install_zip_stamps

TASKS = 24  # enough serial tasks to come back to a worker of the idle pool


def _probe():
    """A worker-side counter, built per test so that it ships by value:
    ``reads(key)`` is (pid, directory reads since this key's last call on
    this worker, or -1 on its first)."""

    def reads(key):
        import os
        import zipimport

        state = zipimport.__dict__.setdefault("_probe_counts", {})
        if key not in state:
            state[key] = 0
            read = zipimport._read_directory

            def counted(archive):
                state[key] += 1
                return read(archive)

            zipimport._read_directory = counted
            return os.getpid(), -1
        n, state[key] = state[key], 0
        return os.getpid(), n

    return reads


def _reused_counts(run_task):
    """Directory reads of the tasks that ran on a worker the probe had
    already seen; at least two such tasks."""
    counts = []
    for _ in range(TASKS):
        _, n = run_task()
        if n >= 0:
            counts.append(n)
        if len(counts) >= 2:
            break
    assert len(counts) >= 2, "no worker was reused"
    return counts


def test_eip55_tasks_on_a_reused_worker_read_no_zip_directory(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    reads = _probe()

    @pandas_udf(StringType())
    def probe(s: pd.Series) -> pd.Series:
        pid, n = reads("eip55")
        return pd.Series([f"{pid} {n}"] * len(s))

    # one task; both UDFs sit in one Arrow node, so they share its worker
    df = spark.range(64).repartition(1).select(F.format_string("0x%040x", "id").alias("a"))
    plan = df.select(eip55_checksum("a").alias("c"), probe("a").alias("p"))

    def run_task():
        row = plan.agg(F.max("p"), F.count("c")).first()
        return tuple(int(v) for v in row[0].split())

    assert _reused_counts(run_task) == [0, 0]


def test_rolling_tasks_on_a_reused_worker_read_no_zip_directory(spark):
    reads = _probe()

    def rolling(vals):
        pid, n = reads("rolling")
        out = np.zeros(vals.size)
        out[:2] = pid, n
        return out

    df = spark.range(8).selectExpr("id AS i", "CAST(id AS DOUBLE) AS v")

    def run_task():
        got = _rolling_apply(df, ["i"], "v", "probe", None, rolling).orderBy("i").limit(2)
        return tuple(int(r["probe"]) for r in got.collect())

    assert _reused_counts(run_task) == [0, 0]


def test_a_rewritten_py_file_archive_is_read_by_the_next_task(spark, tmp_path):
    """``addPyFile`` zip, imported by tasks on every idle worker, then
    rewritten with a new module: a task on a worker that has stamped the
    old archive imports the new module."""
    src = tmp_path / "zip_stamp_mods.zip"
    with zipfile.ZipFile(src, "w") as z:
        z.writestr("zip_stamp_a.py", "VALUE = 'a'\n")
    spark.sparkContext.addPyFile(str(src))
    one = spark.range(1).repartition(1)

    def imports(name):
        def kernel(batches):
            install_zip_stamps()
            import importlib
            import os

            import pandas as pd

            mod = importlib.import_module(name)
            for _ in batches:
                pass
            yield pd.DataFrame({"pid": [os.getpid()], "value": [mod.VALUE],
                                "file": [mod.__file__]})

        return one.mapInPandas(kernel, "pid long, value string, file string").collect()[0]

    # each idle worker runs at least two tasks, so the second one's set-up
    # has stamped the archive
    seen = []
    while len(seen) < TASKS and not (seen and all(seen.count(p) >= 2 for p in seen)):
        row = imports("zip_stamp_a")
        seen.append(row["pid"])
    assert all(seen.count(p) >= 2 for p in seen), seen
    archive = row["file"].rsplit("/", 1)[0]  # the shipped copy workers import from
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zip_stamp_a.py", "VALUE = 'a'\n")
        z.writestr("zip_stamp_b.py", "VALUE = 'b'\n")
    reused = 0
    for _ in range(4):
        row = imports("zip_stamp_b")
        assert row["value"] == "b"
        reused += row["pid"] in seen
    assert reused


def test_installer_leaves_the_driver_and_cpython_313_alone(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(worker, "_stamps", None)
    install_zip_stamps()  # the driver is not a worker
    assert zipimport.zipimporter.invalidate_caches is before and worker._stamps is None

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        install_zip_stamps()  # 3.13's invalidate_caches is already lazy
    assert zipimport.zipimporter.invalidate_caches is before and worker._stamps is None


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the installer is a no-op")
def test_stamped_importers_reread_only_a_changed_archive(monkeypatch, tmp_path):
    monkeypatch.setattr(worker, "_stamps", None)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)  # restored after the test
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))

    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "")
    top, sub = zipimport.zipimporter(path), zipimport.zipimporter(path + "/pkg")
    monkeypatch.setitem(sys.path_importer_cache, path, top)
    install_zip_stamps()
    assert worker._stamps[path] == worker._stamp(path)
    reads.clear()
    for imp in (top, sub):
        imp.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "")
        z.writestr("pkg/b.py", "")
    for imp in (top, sub):
        imp.invalidate_caches()
    assert reads == [path]  # one read serves every prefix of the archive
    assert sub.find_spec("pkg.b") is not None

    (tmp_path / "mods.zip").unlink()
    sub.invalidate_caches()
    assert sub.find_spec("pkg.a") is None and path not in worker._stamps
