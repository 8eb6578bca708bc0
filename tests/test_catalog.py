"""Catalog tests: the declared fixture schemas are the footers' schemas,
loads launch no Spark job, and no package code re-infers a schema."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark import catalog
from etl_notifier_pipeline_spark.catalog import SCHEMAS, TABLES, load_table, table_path
from conftest import SF_DIR
from test_bucketed_store import _jobs

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
    _, n = _jobs(spark, lambda: spark.range(10).count(), "catalog-control")
    assert n >= 1, "the job counter sees no jobs at all"
    dfs, n = _jobs(
        spark, lambda: catalog.register_views(spark, os.path.join(TESTDATA, "sf0.01")), "catalog-views"
    )
    assert n == 0
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


def test_no_package_code_reinfers_a_parquet_schema():
    """A schema the code declares or has just written is known without
    the inference job ``spark.read.parquet(p).schema`` launches."""
    assert _reinferred_schemas(ast.parse("s = spark.read.parquet(p).schema")) == [1]
    pkg = os.path.join(ROOT, "etl_notifier_pipeline_spark")
    found = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                found += [f"{os.path.relpath(path, ROOT)}:{ln}" for ln in _reinferred_schemas(tree)]
    assert found == []
