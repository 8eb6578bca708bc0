"""Write ``expected/<sf>.json``: the expected output of every headline
query on a committed fixture, from the registry's DuckDB oracle and
canonicalized by ``tools/parity.py``. A query without an oracle (s04 is
rows-only) stores the row count and columns of the engine's result.

    python3 perfbench/make_expected.py perfbench/fixture/sf0.01
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main(fixture: str) -> None:
    import duckdb

    import bench
    from etl_notifier_pipeline_spark import caching, plans
    from etl_notifier_pipeline_spark.catalog import TABLES, table_path
    from etl_notifier_pipeline_spark.session import get_spark
    from tools.parity import pandas_rows, table_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(fixture, t)}')")
    spark = None
    out = {}
    for q in bench.HEADLINE:
        spec = plans.specs().get(q)
        if spec is None:
            continue  # the CPU probe is not a registry query
        if spec.oracle is not None:
            pdf = con.execute(spec.oracle).df()
            n, h, cols = table_hash(list(pdf.columns), pandas_rows(pdf))
            out[q] = {"rows": n, "columns": cols, "hash": h}
        else:
            spark = spark or get_spark("make_expected")
            pdf = spec.fn(spark, fixture).toPandas()
            caching.release_all()
            out[q] = {"rows": len(pdf), "columns": sorted(pdf.columns)}
        print(q, out[q], flush=True)
    sf = os.path.basename(os.path.normpath(fixture))
    with open(os.path.join(HERE, "expected", f"{sf}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
