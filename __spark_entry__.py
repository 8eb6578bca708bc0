"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``etl_notifier_pipeline_spark.plans`` — one
registered (Spark callable, oracle SQL) pair per operator from
SURVEY.md §2. A local mirror of this gate is ``tools/parity.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_notifier_pipeline_spark import plans  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    _ensure_session_conf(spark)
    return plans.get("q01_pricing_summary").fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    wrapped = {}
    for name, fn in plans.all_queries().items():
        wrapped[name] = _with_conf(fn)
    return wrapped


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every oracle-expressible query."""
    return plans.all_oracles()


def _ensure_session_conf(spark: SparkSession) -> None:
    """Apply the engine's runtime SQL confs (``session.runtime_conf``,
    the ones ``get_spark`` builds with) to a driver-provided session."""
    from etl_notifier_pipeline_spark.session import runtime_conf

    for k, v in runtime_conf().items():
        spark.conf.set(k, v)


def _with_conf(fn):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_session_conf(spark)
        return fn(spark, sf_dir)

    runner.__doc__ = fn.__doc__
    runner.__name__ = getattr(fn, "__name__", "query")
    return runner
