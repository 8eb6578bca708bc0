"""Catalog tests: the declared fixture schemas are the footers' schemas,
loads launch no Spark job, and no package code re-infers a schema."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark import catalog
from etl_notifier_pipeline_spark.catalog import SCHEMAS, TABLES, load_table, table_path
from etl_notifier_pipeline_spark.metrics import measured
from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = os.path.dirname(SF_DIR)
FIXTURE_DIRS = [
    *(os.path.join(TESTDATA, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")),
    *(os.path.join(ROOT, "perfbench/fixture", sf) for sf in ("sf0.001", "sf0.01")),
]


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=lambda d: "-".join(d.split("/")[-2:]))
def test_declared_schemas_equal_inferred(spark, sf_dir):
    for name in TABLES:
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert SCHEMAS[name] == inferred, name


def test_register_views_launches_no_jobs(spark):
    with measured(spark, "catalog-control") as m:
        spark.range(10).count()
    assert m["jobs"] >= 1, "the job counter sees no jobs at all"
    with measured(spark, "catalog-views") as m:
        dfs = catalog.register_views(spark, os.path.join(TESTDATA, "sf0.01"))
    assert m["jobs"] == 0
    assert sorted(dfs) == sorted(TABLES)


def test_spark_written_ntz_events_read_as_the_fixture(spark, tmp_path):
    """``tools/scale_up.py`` writes events as a Spark parquet directory
    with ``ts`` cast to ``timestamp_ntz``; the declared ``timestamp``
    reads it back as the same rows as the single-file fixture."""
    ev = load_table(spark, SF_DIR, "events")
    ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(
        table_path(str(tmp_path), "events")
    )
    back = load_table(spark, str(tmp_path), "events")
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert sorted(back.collect()) == sorted(ev.collect())


def test_conflicting_column_type_fails_the_scan(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    ev.withColumn("event_id", F.col("event_id").cast("string")).write.parquet(
        table_path(str(tmp_path), "events")
    )
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "events").collect()


@pytest.mark.parametrize("writer", ["pyarrow_file", "spark_dir"])
def test_missing_declared_column_raises(spark, tmp_path, writer):
    """A table file without a declared column fails the load, naming
    the column, instead of reading it as all-null."""
    region = load_table(spark, SF_DIR, "region").select("r_regionkey")
    path = table_path(str(tmp_path), "region")
    if writer == "pyarrow_file":
        region.toPandas().to_parquet(path)
    else:
        region.write.parquet(path)
    with pytest.raises(ValueError, match=r"lacks declared columns \['r_name'\]"):
        load_table(spark, str(tmp_path), "region")


def _reinferred_schemas(tree: ast.AST) -> list[int]:
    """Lines of ``<x>.read.parquet(...).schema`` expressions."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "schema"
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "parquet"
        and isinstance(node.value.func.value, ast.Attribute)
        and node.value.func.value.attr == "read"
    ]


def _package_trees():
    """(path relative to the repo, source, AST) of every package module."""
    pkg = os.path.join(ROOT, "etl_notifier_pipeline_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    src = f.read()
                yield os.path.relpath(path, ROOT), src, ast.parse(src, path)


def test_no_package_code_reinfers_a_parquet_schema():
    """A schema the code declares or has just written is known without
    the inference job ``spark.read.parquet(p).schema`` launches."""
    assert _reinferred_schemas(ast.parse("s = spark.read.parquet(p).schema")) == [1]
    found = []
    for rel, _src, tree in _package_trees():
        found += [f"{rel}:{ln}" for ln in _reinferred_schemas(tree)]
    assert found == []


def _unpartitioned_windows(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``Window.orderBy(...)`` or
    ``Window.partitionBy().orderBy(...)``, under any import alias of
    ``Window``: a window without partitions, which sorts its whole
    input in one task."""
    aliases = {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.module in ("pyspark.sql", "pyspark.sql.window")
        for a in node.names
        if a.name == "Window"
    }
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "orderBy"
            ):
                base = child.func.value
                if (
                    isinstance(base, ast.Call)
                    and isinstance(base.func, ast.Attribute)
                    and base.func.attr == "partitionBy"
                    and not base.args
                ):
                    base = base.func.value
                if isinstance(base, ast.Name) and base.id in aliases:
                    found.append((child.lineno, fn))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(tree, "")
    return found


# The unpartitioned windows the package may hold: the prefix kernel's
# window over its per-part totals, and a directory listing's file rank.
ALLOWED_UNPARTITIONED_WINDOWS = {
    ("etl_notifier_pipeline_spark/operators/prefix.py", "prefix_sum"),
    ("etl_notifier_pipeline_spark/extensions/multimodal.py", "media_from_dir"),
}


def test_one_prefix_kernel_and_no_distance_tensor():
    """Running sums go through ``operators.prefix.prefix_sum`` (no other
    unpartitioned window), and nearest-centroid searches through
    ``similarity._sq_dist`` (no batch x centroids x dim difference
    tensor)."""
    probe = "from pyspark.sql import Window as W\ndef f():\n    W.partitionBy().orderBy(1)"
    assert _unpartitioned_windows(ast.parse(probe)) == [(3, "f")]
    windows, tensors = [], []
    for rel, src, tree in _package_trees():
        windows += [
            f"{rel}:{ln}"
            for ln, fn in _unpartitioned_windows(tree)
            if (rel, fn) not in ALLOWED_UNPARTITIONED_WINDOWS
        ]
        tensors += [
            f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
            for m in re.finditer(r"\[:, None, :\]\s*-", src)
        ]
    assert windows == []
    assert tensors == []
