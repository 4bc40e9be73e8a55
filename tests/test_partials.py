"""The partial store (operators/partials.py): every per-batch store lists,
reads and attaches through it, an empty store fails loudly in every serve
path, and serving reads all partials in one scan however many batches
there are."""

from __future__ import annotations

import ast
import os
import re

import pytest

from log_analysis_system_spark.operators import hypertable, ivm, partials
from log_analysis_system_spark.operators.partials import partial_dirs, write_partial
from log_analysis_system_spark.streaming import drift, nbayes, oov, quantiles, shapley

# serve_* callables with their non-store arguments; every one must read
# the store before it touches the others.
SERVES = {
    "serve_drift": lambda spark, d: drift.serve_drift(spark, d, None),
    "serve_change_point": drift.serve_change_point,
    "serve_sprt": drift.serve_sprt,
    "serve_w1": drift.serve_w1,
    "serve_burst": drift.serve_burst,
    "serve_nb_confusion": lambda spark, d: nbayes.serve_nb_confusion(spark, d, None),
    "serve_oov": oov.serve_oov,
    "serve_quantiles": quantiles.serve_quantiles,
    "serve_shapley": shapley.serve_shapley,
    "serve_view": ivm.serve_view,
    "serve_rollup": hypertable.serve_rollup,
}


@pytest.mark.parametrize("root", ["empty", "missing"])
@pytest.mark.parametrize("name", sorted(SERVES))
def test_serve_on_empty_store_raises(spark, tmp_path, name, root):
    store = str(tmp_path if root == "empty" else tmp_path / "missing")
    with pytest.raises(FileNotFoundError, match=re.escape(store)):
        SERVES[name](spark, store)


def test_partial_dirs_numeric_order_and_filter(tmp_path):
    assert partial_dirs(str(tmp_path / "missing")) == []
    root = tmp_path / "batches"
    for d in ("batch=10", "batch=2", "batch=0", "batch=base", "_SUCCESS", "other"):
        (root / d).mkdir(parents=True)
    assert partial_dirs(str(tmp_path)) == [
        (i, str(root / f"batch={i}")) for i in (0, 2, 10)
    ]


def _parquet_scans(df) -> set[tuple[str, ...]]:
    """Distinct parquet relations of the optimized plan, each as its
    sorted root paths (a self-join reads one relation twice)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    scans = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            roots = leaf.relation().location().rootPaths()
            scans.add(tuple(sorted(roots.apply(j).toString() for j in range(roots.size()))))
    return scans


def _assert_one_scan_no_union(df, n_dirs):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    scans = _parquet_scans(df)
    assert len(scans) == 1 and len(next(iter(scans))) == n_dirs, scans
    assert "Union" not in plan, plan


N_BATCHES = 25


def test_serve_plans_have_one_scan_for_many_batches(spark, tmp_path):
    """The multi-path read keeps plan size O(1) in the number of batches:
    one parquet relation, no per-batch Union."""
    from pyspark.sql import functions as F

    drift_store = str(tmp_path / "drift")
    view_store = str(tmp_path / "view")
    rollup_store = str(tmp_path / "rollup")
    for i in range(N_BATCHES):
        write_partial(
            spark.createDataFrame([("f", f"l{i % 3}", i)], "feature string, label string, n long"),
            drift_store,
            i,
        )
        write_partial(
            spark.createDataFrame([(f"n{i % 4}", i, 1)], "n_name string, revenue_c long, n_items long"),
            view_store,
            i,
        )
        hypertable.append_rollup_batch(
            spark.createDataFrame([(i,)], "v long").select(
                F.timestamp_seconds(F.col("v") * 3600).alias("ts"),
                F.col("v").cast("double").alias("value"),
            ),
            rollup_store,
            i,
        )
        if i == N_BATCHES // 2:  # base + live batches still read as one scan
            hypertable.compact_rollup(spark, rollup_store)

    ref = spark.createDataFrame([("f", "l0", 5)], "feature string, label string, n long")
    _assert_one_scan_no_union(drift.serve_drift(spark, drift_store, ref), N_BATCHES)
    _assert_one_scan_no_union(ivm.serve_view(spark, view_store), N_BATCHES)
    # one base (batches 0..N/2) plus the live batch dirs N/2+1..N-1
    _assert_one_scan_no_union(
        hypertable.serve_rollup(spark, rollup_store), 1 + N_BATCHES - 1 - N_BATCHES // 2
    )
    assert hypertable.serve_rollup(spark, rollup_store).count() == N_BATCHES


# ---------------------------------------------------------------- one path

_LISTERS = {"listdir", "scandir", "walk", "iterdir", "glob"}


def _scopes(tree):
    """(qualified name, node) of every function, methods as Class.method."""
    out = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    out.append((name, child))
                visit(child, f"{name}.")
            else:
                visit(child, prefix)

    visit(tree, "")
    return out


def _store_layout_violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for qual, fn in _scopes(tree):
        nodes = list(ast.walk(fn))
        calls = [n.func for n in nodes if isinstance(n, ast.Call)]
        names = {c.attr if isinstance(c, ast.Attribute) else getattr(c, "id", None) for c in calls}
        if "foreachBatch" in names:
            found.append(f"{path}: {qual} calls foreachBatch")
        mentions_batch = any(
            isinstance(n, ast.Constant) and isinstance(n.value, str) and "batch=" in n.value
            for n in nodes
        )
        if mentions_batch and names & _LISTERS:
            found.append(f"{path}: {qual} lists batch= dirs")
    return found


def test_only_partials_module_knows_the_store_layout():
    """Listing ``batch=`` dirs and attaching ``foreachBatch`` happen in
    operators/partials.py only."""
    lib = os.path.dirname(os.path.dirname(partials.__file__))
    violations = []
    for dirpath, _, files in os.walk(lib):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != partials.__file__:
                violations += _store_layout_violations(path)
    assert violations == []
