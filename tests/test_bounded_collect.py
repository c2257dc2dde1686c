"""Driver-collect contract: every row that reaches the driver goes through
catalog.bounded_collect, which fetches at most ``max_rows + 1`` rows and
raises DriverBoundExceeded above its bound."""

from __future__ import annotations

import ast
import pathlib

import pytest

from clinical_data_platform_spark.catalog import DriverBoundExceeded, bounded_collect

PKG = pathlib.Path(__file__).resolve().parent.parent / "clinical_data_platform_spark"

# DataFrame methods that bring rows to the driver
DRIVER_METHODS = {"collect", "toPandas", "first", "take", "head", "tail", "toLocalIterator"}


def _functions_aliases(tree: ast.Module) -> set[str]:
    """Names bound to pyspark.sql.functions (whose ``first`` is a column
    aggregate, not an action)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname}
        elif isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            names |= {a.asname or a.name for a in node.names if a.name == "functions"}
    return names


def _unbounded_calls(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = _functions_aliases(tree)
    allowed: set[int] = set()
    if path == PKG / "catalog.py":
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "bounded_collect":
                allowed |= {id(n) for n in ast.walk(fn)}
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr not in DRIVER_METHODS or id(node) in allowed:
            continue
        recv = node.func.value
        if isinstance(recv, ast.Name) and recv.id in aliases:
            continue
        out.append(f"{path}:{node.lineno} .{node.func.attr}(")
    return out


def test_every_driver_collect_goes_through_bounded_collect():
    offenders = [c for p in sorted(PKG.rglob("*.py")) for c in _unbounded_calls(p)]
    assert offenders == [], "route these through catalog.bounded_collect:\n" + "\n".join(offenders)


def test_scan_flags_actions_but_not_column_aggregates(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "import pyspark.sql.functions as F\n"
        "def f(df):\n"
        "    df.agg(F.first('x'))\n"
        "    return df.first(), df.limit(3).toPandas()\n"
    )
    assert [c.split(" ")[1] for c in _unbounded_calls(mod)] == [".first(", ".toPandas("]


def test_bounded_collect_returns_rows_within_bound(spark):
    df = spark.range(5)
    assert [r.id for r in bounded_collect(df, 5)] == [0, 1, 2, 3, 4]
    assert bounded_collect(df, 5, pandas=True)["id"].tolist() == [0, 1, 2, 3, 4]
    assert bounded_collect(df.limit(0), 0) == []


def test_bounded_collect_raises_over_bound(spark):
    with pytest.raises(DriverBoundExceeded) as err:
        bounded_collect(spark.range(10**9), 5)
    assert err.value.max_rows == 5
    with pytest.raises(DriverBoundExceeded):
        bounded_collect(spark.range(6), 5, pandas=True)


def test_site_over_its_bound_raises_instead_of_collecting(spark):
    """A site without a fallback fails loudly when the data breaks its
    declared bound, rather than pulling the table to the driver: the
    seed-centroid collect admits k rows (vec_ids 0..k-1)."""
    from clinical_data_platform_spark.plans.clustering import _centroids

    e = spark.createDataFrame(
        [(0, [1.0]), (0, [2.0]), (1, [3.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(DriverBoundExceeded) as err:
        _centroids(e, k=2)
    assert err.value.max_rows == 2


def test_gate_over_its_bound_falls_back_to_distributed_path(spark, monkeypatch):
    """A size gate catches DriverBoundExceeded and runs its distributed
    path, which returns the same rows as the driver replay."""
    from clinical_data_platform_spark.plans import graphops

    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1), ("b", "c", 2), ("c", "a", 5), ("a", "c", 1)],
        "src string, dst string, w long",
    )
    via_driver = graphops.pagerank_frame(edges).collect()
    monkeypatch.setattr(graphops, "_GRAPH_LOCAL_MAX_EDGES", 4)
    via_cluster = graphops.pagerank_frame(edges).collect()
    assert sorted(via_cluster) == sorted(via_driver) and len(via_driver) == 3
