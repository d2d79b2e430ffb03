"""The derived driver contract: gate discovery, the green ledger, the
verification window and the one SparkSession factory."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entry
from defi_etl_platform_sqlglot_implementation__spark import gates, registry

ROOT = Path(__file__).resolve().parent.parent
Q, O = registry.QUERIES, registry.ORACLES


def test_discovery_imports_every_registry_module():
    on_disk = sorted(p.stem for p in gates.PKG_DIR.glob("registry*.py"))
    assert gates.discover() == on_disk
    assert all(f"{gates.PACKAGE}.{m}" in sys.modules for m in on_disk)


def test_ledger_names_resolve_in_the_registry():
    ledger = gates.load_ledger()
    assert ledger and set(ledger) <= set(Q)


def test_oracles_follow_query_order():
    q, o = entry.queries(), entry.oracle_sql()
    assert q == Q and o == O  # every gate, same callables and SQL
    assert list(o) == [n for n in q if n in o]


def test_window_is_computed_once_per_import():
    for _ in range(3):
        entry.queries()
        entry.oracle_sql()
    assert entry._window.cache_info().misses == 1


def test_window_is_the_same_under_any_hash_seed():
    code = "import __spark_entry__ as e; print(' '.join(e.queries()))"
    runs = [subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                           text=True, check=True, env={**os.environ, "PYTHONHASHSEED": seed}).stdout
            for seed in ("1", "2")]
    assert runs == [" ".join(entry.queries()) + "\n"] * 2


def _all_green():
    """Per-gate sources and fingerprints, and a ledger holding every oracle
    gate green under its current fingerprint, in mixed rounds."""
    src = gates.sources(Q)
    fps = {n: gates.fingerprint(O.get(n), s) for n, s in src.items()}
    ledger = {n: {"fingerprint": fps[n], "round": 1 + i % 12} for i, n in enumerate(O)}
    return src, fps, ledger, gates.order(Q, O, fps, ledger)


def test_editing_an_operator_moves_exactly_the_gates_that_reach_it():
    src, fps, ledger, before = _all_green()
    target = f"{gates.PACKAGE}.operators.dedup.minhash_lsh_pairs"
    movers = {n for n, s in src.items() if target in s}
    edited = {**fps, **{n: gates.fingerprint(O[n], {**src[n], target: "def minhash_lsh_pairs(): ...\n"})
                        for n in movers}}
    after = gates.order(Q, O, edited, ledger)
    # reached through a function-local import, and through other operators
    assert {"dedup_minhash_lsh", "keep_policy_matrix", "dedup_clusters"} <= movers
    assert "transfer_volume_hourly" not in movers
    assert set(after[:len(movers)]) == movers
    assert [n for n in after if n not in movers] == [n for n in before if n not in movers]


def test_editing_one_oracle_moves_only_that_gate():
    src, fps, ledger, before = _all_green()
    name = before[100]
    after = gates.order(Q, O, {**fps, name: gates.fingerprint(O[name] + " ", src[name])}, ledger)
    assert after == [name] + [n for n in before if n != name]


def test_window_ranks_changed_then_oldest_green_then_rows_only():
    names = ["new", "old", "fresh", "edited", "rows_only"]
    oracles = dict.fromkeys(names[:4], "SELECT 1")
    ledger = {"old": {"fingerprint": "fp", "round": 3}, "fresh": {"fingerprint": "fp", "round": 9},
              "edited": {"fingerprint": "stale", "round": 1}}
    assert gates.order(dict.fromkeys(names), oracles, dict.fromkeys(names, "fp"), ledger) == [
        "edited", "new", "old", "fresh", "rows_only"]


def test_one_session_builder_outside_the_frozen_benchmark():
    needle, hits = "SparkSession" + ".builder", {}
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "perfbench" and not any(p.startswith(".") for p in rel.parts):
            if n := path.read_text(errors="replace").count(needle):
                hits[str(rel)] = n
    assert hits == {f"{gates.PACKAGE}/__init__.py": 1}


def test_driver_local_rows_enter_plans_only_through_local_frame():
    bronze = gates.PKG_DIR / "sources" / "bronze.py"
    fn = next(n for n in ast.parse(bronze.read_text()).body
              if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    needle, hits = "createDataFrame" + "(", []
    for path in sorted(gates.PKG_DIR.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if needle in line and not (path == bronze and fn.lineno <= i <= fn.end_lineno):
                hits.append(f"{path.relative_to(ROOT)}:{i}")
    assert hits == []


def test_persisted_frames_are_released_only_by_their_owner():
    """No ``cache`` call anywhere in the package; ``unpersist`` only in
    operators/materialize.py and the two loop-local releases."""
    owner = gates.PKG_DIR / "operators" / "materialize.py"
    spans = {}
    for rel, name in (("bpe.py", "train_bpe"), ("similarity.py", "kmeans_micro")):
        path = gates.PKG_DIR / "operators" / rel
        fn = next(n for n in ast.parse(path.read_text()).body
                  if isinstance(n, ast.FunctionDef) and n.name == name)
        spans[path] = (fn.lineno, fn.end_lineno)
    caches, unpersists = [], []
    for path in sorted(gates.PKG_DIR.rglob("*.py")):
        lo, hi = spans.get(path, (0, -1))
        for i, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{path.relative_to(ROOT)}:{i}"
            if ".cache" + "()" in line:
                caches.append(where)
            if ".unpersist" + "(" in line and path != owner and not lo <= i <= hi:
                unpersists.append(where)
    assert caches == [] and unpersists == []


def test_check_oracle_changed_runs_the_ledger_changed_gates():
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        import check_oracle
    finally:
        sys.path.remove(str(ROOT / "scripts"))
    listed = subprocess.run([sys.executable, "scripts/ledger.py", "changed"], cwd=ROOT,
                            capture_output=True, text=True, check=True).stdout.split()
    names = check_oracle.gate_names(check_oracle.parse_args(["--changed"]), list(entry.queries()))
    assert names == listed


def test_table_reads_infer_the_schema_once_per_table_version(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    path = tmp_path / "tbl.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    sc = spark.sparkContext
    registry.t(spark, str(tmp_path), "tbl")  # first read: the footer job
    sc.setJobGroup("second-read", "t() again")
    try:
        again = registry.t(spark, str(tmp_path), "tbl")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("second-read")) == []
    assert again.columns == ["a"] and again.count() == 2
    # a rewritten table is a new version: its schema is read again
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    assert registry.t(spark, str(tmp_path), "tbl").columns == ["a", "b"]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        registry.t(spark, str(tmp_path), "missing")


KERNEL_APIS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "mapInArrow",
               "applyInArrow"}


def _named(node, name):
    return isinstance(node, ast.Call) and name in (getattr(node.func, "id", None),
                                                   getattr(node.func, "attr", None))


def kernel_sites(tree):
    """(line, kernel def or None) for every Python kernel one module hands
    to Spark: ``@pandas_udf`` defs, ``pandas_udf(T)(fn)``, and the function
    passed to the ``KERNEL_APIS`` (through ``functools.partial`` too),
    resolved by name through the enclosing function scopes."""
    owner = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            owner[child] = scope
            visit(child, child if isinstance(child, ast.FunctionDef) else scope)

    visit(tree, tree)
    defs = [n for n in owner if isinstance(n, ast.FunctionDef)]

    def resolve(arg, at):
        if _named(arg, "partial"):
            return resolve(arg.args[0], at)
        scope = owner[at]
        while isinstance(arg, ast.Name):
            hits = [d for d in defs if d.name == arg.id and owner[d] is scope]
            if hits:
                return hits[-1]
            if scope is tree:
                break
            scope = owner[scope]
        return None

    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(_named(d, "pandas_udf")
                                                     for d in node.decorator_list):
            sites.append((node.lineno, node))
        elif isinstance(node, ast.Call) and (
                getattr(node.func, "attr", None) in KERNEL_APIS or _named(node.func, "pandas_udf")):
            sites.append((node.lineno, resolve(node.args[0], node) if node.args else None))
    return sites


def test_every_python_kernel_stamps_its_workers_zip_imports():
    """Each kernel's first statement (after its docstring) is
    ``install_zip_stamps()``: a by-value closure does not import the
    package on the worker, so nothing else would run it (worker.py)."""
    sites, missing = 0, []
    for path in sorted(gates.PKG_DIR.rglob("*.py")):
        for line, fn in kernel_sites(ast.parse(path.read_text())):
            sites += 1
            body = fn.body if fn is not None else []
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                body = body[1:]
            first = body[0].value if body and isinstance(body[0], ast.Expr) else None
            if not (_named(first, "install_zip_stamps") and not first.args):
                missing.append(f"{path.relative_to(ROOT)}:{line}")
    assert sites >= 25  # the walk still finds the package's kernels
    assert missing == []
