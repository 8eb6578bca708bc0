"""Fixture-table catalog: load the driver's parquet tables for a scale dir.

Tables (per /root/repo/TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

``SCHEMAS`` declares each table's columns, as Spark reads the fixture
footers (FIXTURES.md): a load is catalog metadata plus a lazy scan, never
a schema-inference job. Every fixture timestamp is parquet INT64
``TIMESTAMP(MICROS, isAdjustedToUTC=false)``; declared ``timestamp``, it
reads as the stored wall clock under the session's pinned UTC, as does
the ``timestamp_ntz`` column ``tools/scale_up.py`` writes.

``load_tables`` returns plain DataFrames (lazy parquet scans — Catalyst
pushes filters/column pruning into them); ``register_views`` additionally
registers each as a temp view so SQL-expressed operators can refer to the
same names the DuckDB oracle uses.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _struct(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


_I, _L, _D, _S, _TS = (
    T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType(), T.TimestampType()
)

SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", _I), ("r_name", _S)),
    "nation": _struct(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _struct(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I), ("c_acctbal", _D),
        ("c_mktsegment", _S),
    ),
    "supplier": _struct(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _struct(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _struct(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _struct(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L), ("l_linenumber", _I),
        ("l_quantity", _D), ("l_extendedprice", _D), ("l_discount", _D), ("l_tax", _D),
        ("l_returnflag", _S), ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _struct(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _struct(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _struct(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType())), ("label", _I)
    ),
}
TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _footer_columns(path: str) -> list[str]:
    """Top-level column names in the parquet footer at ``path``; for a
    Spark-written directory, in the footer of its first part file."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"{path}: no parquet part file")
        path = os.path.join(path, parts[0])
    return pq.read_schema(path).names


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``name`` at ``sf_dir`` read with its declared schema: building the
    frame reads one footer and lists one path on the driver, and launches
    no Spark job. A file that lacks a declared column raises here
    (Spark would read the column as all-null); one whose column types
    conflict with ``SCHEMAS[name]`` fails its scan
    (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``)."""
    path = table_path(sf_dir, name)
    present = set(_footer_columns(path))
    missing = [c for c in SCHEMAS[name].names if c not in present]
    if missing:
        raise ValueError(f"{path} lacks declared columns {missing}")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: load_table(spark, sf_dir, name)
        for name in TABLES
        if os.path.exists(table_path(sf_dir, name))
    }


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after itself."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
