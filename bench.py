"""Benchmark harness: the headline queries and their DuckDB twins,
timed under one protocol; prints ONE JSON line.

Usage: python bench.py [SF_DIR] [QUERY ...] [--runs N] [--json PATH]
                       [--no-duck] [--no-warm] [--rows]

SF_DIR defaults to $SPARK_GRAFT_SF_DIR (else sf0.1) and the queries to
the 14 of ``HEADLINE``, on local[$SPARK_GRAFT_CPUS]. The headline set
covers each operator family the engine claims: scan+agg (q01), star
join (q05), window (q08), date rollup (q18), MERGE shape (m02), text
tf (x02), two-phase global prefix-sum block packing (x22), minhash-LSH
dedup (d04), connected-components dedup clusters (d06), incremental
batch-vs-corpus dedup (d13), cosine top-k (s01), IVF ANN (s04),
sessionization (st03), and arbitrary-stateful running totals (st05).

Protocol: warm once (``--no-warm`` measures cold runs), then N measured
runs per query (default 3), each bracketed by host canaries
(``tools.benchproto.stamped_runs``); the best run is the headline.
Results go to the noop sink, so timings measure compute, not driver
transfer. Every run is one ``metrics.measured`` block (stage counters,
GC, codegen compiles) plus the executors' peak heap. The DuckDB twin of
every query runs in-process under the same warm+N protocol, so the
ratio is computed by the harness, not hand-derived later.

stdout is the driver contract: one JSON line of plain per-query
seconds, small enough to survive a truncated stdout tail. The full
artifact (per-run stamps and counters, and ``vs_prev``, the
canary-normalized comparison with the artifact before it) goes to
``--json PATH``, else to the next ``BENCH_STAMPS_r{N}.json`` beside
this file. Per-query progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_notifier_pipeline_spark import caching, plans  # noqa: E402
from etl_notifier_pipeline_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from etl_notifier_pipeline_spark.extensions import dedup  # noqa: E402
from etl_notifier_pipeline_spark.metrics import measured, peak_heap  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402
from tools.benchproto import (  # noqa: E402
    IO_CANARY_BUDGET,
    PROTOCOL_VERSION,
    artifact_vs_prev,
    configure_io_canary,
    host_canary_ms,
    io_canary_ms,
    protocol_header,
    stamped_runs,
)
from tools.parity import _duck_path  # noqa: E402

# Frozen by the bench contract: names and order.
HEADLINE = [
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q08_topk_per_group",
    "q18_monthly_revenue",
    "m02_upsert",
    "x02_term_frequency",
    "x22_block_pack_spans",
    "d04_minhash_lsh_pairs",
    "d06_dedup_clusters",
    "d13_incremental_dedup",
    "s01_cosine_topk",
    "s04_ivf_topk",
    "st03_session_window",
    "st05_stateful_running_totals",
]

N_RUNS = 3

# The registry's bit-exact decimal contract: every headline query runs
# its registry plan. Stamped into every artifact, because committed
# artifacts from before the deployment profile's deletion carry
# "deployment" and must not be compared with this one.
NUMERIC_PROFILE = "oracle"

# metrics.peak_heap raises until an executor heartbeat has sampled the
# heap. At Spark's default 10 s interval a query on a small fixture
# ends before the first one; at 1 s the peak is readable right after
# the first job.
SESSION_CONF = {"spark.executor.heartbeatInterval": "1s"}

# DuckDB twins for headline queries whose registry entry is rows-only
# (no ANSI oracle): the twin runs the SAME TASK the way an exact SQL
# engine would, so ratio_vs_duckdb covers the whole headline set.
# - s04 (IVF ANN top-5): exact KNN — identical query set/k to s01's
#   oracle; the IVF index exists to BEAT this exact scan, so the exact
#   scan is the honest comparable.
# - st05 (stateful running totals): its drained final state per user
#   is exactly the per-user count+sum aggregate.
TWIN_SQL: dict[str, str] = {
    "s04_ivf_topk": """
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (list_reduce(list_transform(range(1, 65),
            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)
          / (sqrt(list_reduce(list_transform(range(1, 65),
               i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x, y) -> x + y))
           * sqrt(list_reduce(list_transform(range(1, 65),
               i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y))))
           AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY
           (list_reduce(list_transform(range(1, 65),
              i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y))))
           DESC, c.vec_id) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= 5
""",
    "st05_stateful_running_totals": """
SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total_value
FROM events GROUP BY user_id
""",
}


def resolve(name: str):
    """(spark_fn, duckdb_sql) for a query: the registry plan and its
    oracle, else the TWIN_SQL comparable."""
    spec = plans.get(name)
    return spec.fn, (spec.oracle or TWIN_SQL.get(name))


def duckdb_twin_times(
    sf_dir: str,
    names: list[str],
    n_runs: int = N_RUNS,
    warm: bool = True,
) -> dict[str, dict | None]:
    """Per-query DuckDB stamps (``stamped_runs``: sec, runs_sec,
    canary_ms, dispersion_pct) of the registry oracle, else the
    TWIN_SQL comparable; None for a query with neither. Callers MUST
    mirror the Spark side's protocol: pass the same warm flag and
    n_runs the Spark runs used, or the published ratio compares a warm
    engine to a cold one (the r5 asymmetry: the scale harness warmed
    Spark but not DuckDB)."""
    import duckdb

    from etl_notifier_pipeline_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count() or 8}")
    for t in TABLES:
        # amplified fixtures carry only the tables their rung needs
        # (e.g. .scale/sf100 ships the star tables + embeddings, not
        # events/documents) — register what exists; a query over a
        # missing table fails at execute with a clear name, not here
        p = table_path(sf_dir, t)
        if not os.path.exists(p):
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_duck_path(p)}')"
        )
    out: dict[str, dict | None] = {}
    for name in names:
        _, oracle = resolve(name)
        if not oracle:
            out[name] = None
            continue
        if warm:
            con.execute(oracle).fetchall()

        def one(oracle=oracle):
            t0 = time.perf_counter()
            con.execute(oracle).fetchall()
            return time.perf_counter() - t0

        out[name] = stamped_runs(one, n_runs=n_runs)
    return out


def spark_stamp(spark, sf_dir: str, name: str, n_runs: int, warm: bool, rows: bool) -> dict:
    """One query's stamp: per-run walls and canaries, plus the best
    run's ``metrics.measured`` counters, peak heap and dedup cluster
    stats; with ``rows``, the result row count (one more, unmeasured
    execution)."""
    fn, _ = resolve(name)
    if warm:
        # With --runs 1 a cold measured run pays first-touch parquet
        # footer reads and JIT, which at sfN swamped real differences
        # (q01 cold 11.5 s vs warm 4.0 s on identical plans).
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        caching.release_all()

    def run_once():
        dedup.LAST_CLUSTER_STATS.clear()
        with measured(spark, f"bench/{name}") as m:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        del m["jobs"]  # the artifact's per-query keys stay the stage counters
        m["peakJvmHeapBytes"] = peak_heap(spark)
        if dedup.LAST_CLUSTER_STATS:
            m["cluster"] = dict(dedup.LAST_CLUSTER_STATS)
        caching.release_all()  # bound cache growth across the sweep
        return m.pop("sec"), m

    stamp = stamped_runs(run_once, n_runs=n_runs)
    if rows:
        stamp["rows"] = fn(spark, sf_dir).count()
        caching.release_all()
    return stamp


def stamps_paths(root: str) -> tuple[str, str | None]:
    """(the next ``BENCH_STAMPS_r{N}.json`` under ``root``, the newest
    one there or None): a run never overwrites a committed round."""
    rounds = [
        int(m.group(1))
        for f in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_STAMPS_r(\d+)\.json", f))
    ]
    n = max(rounds, default=0)
    newest = os.path.join(root, f"BENCH_STAMPS_r{n:02d}.json") if rounds else None
    return os.path.join(root, f"BENCH_STAMPS_r{n + 1:02d}.json"), newest


def _vs_prev(prev_path: str | None, doc: dict) -> dict | None:
    if not prev_path or not os.path.exists(prev_path):
        return None
    try:
        with open(prev_path) as f:
            return artifact_vs_prev(json.load(f), doc)
    except (
        OSError,
        ValueError,  # bad JSON or a non-numeric entry
        # a malformed prev artifact (wrong shape, zero prev_sec) must
        # degrade to vs_prev-absent, not abort the write AFTER the full
        # expensive benchmark completed and lose the new stamps
        TypeError,
        KeyError,
        AttributeError,
        ZeroDivisionError,
    ):
        return None


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        description="Time the headline queries and their DuckDB twins."
    )
    p.add_argument("args", nargs="*", metavar="[SF_DIR] [QUERY]",
                   help="fixture dir (contains a '/'), then query names")
    p.add_argument("--runs", type=int, default=N_RUNS,
                   help="measured runs per query (default 3)")
    p.add_argument("--json", help="artifact path (default: the next BENCH_STAMPS_r{N}.json)")
    p.add_argument("--no-duck", action="store_true", help="skip the DuckDB twins")
    p.add_argument("--no-warm", action="store_true",
                   help="no warm-up run: measure cold runs")
    p.add_argument("--rows", action="store_true",
                   help="record each query's result rows (one more, unmeasured run)")
    a = p.parse_intermixed_args(argv)
    rest = list(a.args)
    sf_dir = rest.pop(0) if rest and "/" in rest[0] else DEFAULT_SF_DIR
    names = rest or HEADLINE
    m = re.search(r"sf([0-9.]+)$", sf_dir.rstrip("/"))
    sf = float(m.group(1)) if m else None
    if a.json:
        path = prev_path = a.json
    else:
        path, prev_path = stamps_paths(os.path.dirname(os.path.abspath(__file__)))

    # stamp IO-canary brackets probe the directory this run measures
    configure_io_canary(sf_dir)
    canary_pre = host_canary_ms()
    io_pre = io_canary_ms(sf_dir=sf_dir)
    # Same config as every production path (session.py), AQE on: bench
    # what you'd deploy.
    spark = get_spark("bench", extra_conf=SESSION_CONF)
    queries: dict[str, dict] = {}
    for name in names:
        q = queries[name] = spark_stamp(spark, sf_dir, name, a.runs, not a.no_warm, a.rows)
        cluster = q.get("cluster")
        print(
            f"{name}: {q['sec']:.2f}s  "
            f"shufW={q['shuffleWriteBytes']/1e6:.0f}MB "
            f"shufR={q['shuffleReadBytes']/1e6:.0f}MB "
            f"spillMem={q['memoryBytesSpilled']/1e6:.0f}MB "
            f"spillDisk={q['diskBytesSpilled']/1e6:.0f}MB "
            f"gc={q['jvmGcTimeMs']/1e3:.1f}s "
            f"peakHeap={q['peakJvmHeapBytes']/1e9:.1f}GB "
            f"compiles={q['codegenCompiles']}"
            + (f" cluster={cluster}" if cluster else ""),
            file=sys.stderr,
            flush=True,
        )
    duck = (
        {}
        if a.no_duck
        else duckdb_twin_times(sf_dir, names, n_runs=a.runs, warm=not a.no_warm)
    )
    spark_total = sum(q["sec"] for q in queries.values())
    spark_paired = sum(q["sec"] for n, q in queries.items() if duck.get(n))
    duck_total = sum(d["sec"] for d in duck.values() if d)
    doc = {
        "metric": "headline_queries_total",
        "value": round(spark_total, 4),
        "unit": "sec",
        "protocol": protocol_header(
            a.runs,
            warm=not a.no_warm,
            symmetric=True,  # DuckDB twins use the same warm+runs
            numeric_profile=NUMERIC_PROFILE,
            # the single local JVM's heap: per-task execution memory
            # is heap/slots, the binding constraint for map-side
            # partial-aggregation spill on amplifying plans (r11)
            driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        ),
        "sf_dir": sf_dir,
        # effective parallelism, so a low-core rerun is self-describing
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "queries": queries,
        "duckdb": duck,
        "duckdb_total": round(duck_total, 4),
        "ratio_vs_duckdb": (
            round(spark_paired / duck_total, 4) if duck_total else None
        ),
        # cross-round deltas are only meaningful canary-normalized
        # (shared-VM CPU varies 3.5x/day, docs/SCALE.md); the IO canary
        # is the weather axis the CPU kernel is blind to
        "host_canary_ms_pre": canary_pre,
        "host_canary_ms_post": host_canary_ms(),
        "io_canary_ms_pre": io_pre,
        "io_canary_ms_post": io_canary_ms(sf_dir=sf_dir),
        "io_canary_budget_bytes": IO_CANARY_BUDGET,
    }
    doc["vs_prev"] = _vs_prev(prev_path, doc)
    print(
        json.dumps(
            {
                "metric": doc["metric"],
                "value": doc["value"],
                "unit": "sec",
                "queries": {n: q["sec"] for n, q in queries.items()},
                "protocol": PROTOCOL_VERSION,
                "duckdb": {n: d and d["sec"] for n, d in duck.items()},
                "duckdb_total": doc["duckdb_total"],
                "ratio_vs_duckdb": doc["ratio_vs_duckdb"],
                "numeric_profile": NUMERIC_PROFILE,
                "sf": sf,
                **{
                    k: doc[k]
                    for k in (
                        "cpus",
                        "master",
                        "host_canary_ms_pre",
                        "host_canary_ms_post",
                        "io_canary_ms_pre",
                        "io_canary_ms_post",
                        "io_canary_budget_bytes",
                    )
                },
            }
        ),
        flush=True,
    )
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
