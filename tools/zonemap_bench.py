"""Measured zone-map benefit at scale: data-skipping scan vs full scan.

Writes the sf10 lineitem table (60 M rows, ~2 GB parquet) into a
TableStore, OPTIMIZE-clusters it on l_shipdate into 64 files, then runs
the same one-year revenue aggregate two ways — ``read()`` + filter
(full scan; parquet row-group stats still apply WITHIN files) and
``read_where`` (file-level zone-map pruning BEFORE any file opens) —
with the scale-bench stage-metric capture, warm best-of-2. The claim
under test is the 100 TB one: file skipping should cut inputBytes
roughly in proportion to files kept, with identical results.

    python tools/zonemap_bench.py [scale_dir] [--json ZONEMAP_BENCH.json]
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402
from etl_notifier_pipeline_spark.storage import TableStore  # noqa: E402
from scale_bench import measured_run  # noqa: E402
from tools.benchproto import (  # noqa: E402
    PROTOCOL_VERSION,
    configure_io_canary,
    stamped_runs,
)

LO = datetime.datetime(2000, 1, 1)
HI = datetime.datetime(2000, 12, 31, 23, 59, 59)


def _agg(df):
    return df.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/repo/.scale/sf10"
    # Stamp-dense ladder: per-stamp IO probes would dominate the
    # measurement (see lakehouse_bench) — CPU canaries only.
    configure_io_canary(None, enabled=False)

    spark = get_spark("zonemap-bench")
    store_root = os.path.join(os.path.dirname(sf_dir), "zonemap_store")
    store = TableStore(spark, store_root)

    out: dict = {
        "metric": "zonemap_scan",
        "sf_dir": sf_dir,
        "protocol": {"warm": True, "runs": 2, "canary": PROTOCOL_VERSION},
        # Once clustered, parquet's own row-group pushdown already
        # skips non-matching files' DATA pages — what file-level zone
        # maps additionally remove is the per-file metadata cost (a
        # scheduled task + a footer open per file), which is why the
        # full-vs-pruned gap must GROW with file count: that per-file
        # constant is exactly what dominates a 100k-file 100 TB table,
        # and why Delta keeps stats in the log rather than in footers.
        "layouts": {},
    }
    preds = [("l_shipdate", "between", (LO, HI))]
    for n_files in (64, 512, 4096):
        table = f"li{n_files}"
        t0 = time.perf_counter()
        if not store.exists(table):
            li = spark.read.parquet(
                os.path.join(sf_dir, "lineitem.parquet")
            ).select("l_shipdate", "l_extendedprice", "l_orderkey")
            store.overwrite(table, li)
            store.optimize_layout(table, "l_shipdate", n_files=n_files)
        setup_s = round(time.perf_counter() - t0, 3)
        kept, total = store.pruned_files(table, preds)

        # planning cost (r6 ask #5): the manifest-level _stats_agg
        # answers file list + stats in ONE object read; the fallback
        # pays a directory listing + per-dir sidecar parse. Both paths
        # must keep the identical file set.
        from etl_notifier_pipeline_spark.storage import _STATS_AGG_NAME

        def _plan_ms(reps: int = 5) -> float:
            best = float("inf")
            for _ in range(reps):
                p0 = time.perf_counter()
                store.pruned_files(table, preds)
                best = min(best, time.perf_counter() - p0)
            return round(best * 1000, 2)

        plan_agg_ms = _plan_ms()
        v = store.current_version(table)
        apath = os.path.join(
            store_root, table, f"v={v}", _STATS_AGG_NAME
        )
        os.rename(apath, apath + ".bak")
        try:
            kept_fb, total_fb = store.pruned_files(table, preds)
            plan_fallback_ms = _plan_ms()
        finally:
            os.rename(apath + ".bak", apath)
        assert (sorted(kept_fb), total_fb) == (sorted(kept), total)

        def full_scan(spark, _sf, table=table):
            return _agg(
                store.read(table).where(
                    F.col("l_shipdate").between(F.lit(LO), F.lit(HI))
                )
            )

        def pruned_scan(spark, _sf, table=table):
            return _agg(store.read_where(table, preds))

        cell: dict = {
            "files_kept": len(kept),
            "files_total": total,
            "setup_s": setup_s,
            "plan_agg_ms": plan_agg_ms,  # 1 object read
            "plan_fallback_ms": plan_fallback_ms,  # listing + sidecars
            "plan_objects_read": 1,
        }
        for name, fn in (
            ("full_scan", full_scan),
            ("pruned_scan", pruned_scan),
        ):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cell[name] = stamped_runs(
                lambda fn=fn: measured_run(spark, fn, sf_dir), n_runs=2
            )

        full = {tuple(r) for r in full_scan(spark, sf_dir).collect()}
        pruned = {tuple(r) for r in pruned_scan(spark, sf_dir).collect()}
        cell["results_equal"] = full == pruned
        cell["speedup"] = round(
            cell["full_scan"]["sec"] / cell["pruned_scan"]["sec"], 2
        )
        out["layouts"][str(n_files)] = cell
    # --- the many-commits rung: planning cost is O(dirs) without the
    # manifest-level aggregate ------------------------------------------
    # optimize_layout tables hold ONE dir, so the per-dir fallback is
    # already a single listing there; the layout that actually bleeds
    # on object storage is a long-lived APPEND table — every commit
    # adds a dir, and a reader without the aggregate pays a listing +
    # sidecar GET per dir per query. 256 key-clustered appends model a
    # streaming-ingest table; the aggregate answers planning from ONE
    # object at any history length.
    table = "liappend"
    n_appends, chunk = 256, 100_000
    t0 = time.perf_counter()
    if not store.exists(table):
        for i in range(n_appends):
            df = (
                spark.range(i * chunk, (i + 1) * chunk)
                .select(
                    F.col("id").alias("k"),
                    (F.col("id") % 997).cast("double").alias("v"),
                )
                .coalesce(1)
            )
            store.append(table, df)
    setup_s = round(time.perf_counter() - t0, 3)
    apreds = [("k", "between", (42 * chunk, 45 * chunk - 1))]

    def _plan_ms_append(reps: int = 5) -> float:
        best = float("inf")
        for _ in range(reps):
            p0 = time.perf_counter()
            store.pruned_files(table, apreds)
            best = min(best, time.perf_counter() - p0)
        return round(best * 1000, 2)

    kept_a, total_a = store.pruned_files(table, apreds)
    plan_agg = _plan_ms_append()
    from etl_notifier_pipeline_spark.storage import _STATS_AGG_NAME as _SAN

    va = store.current_version(table)
    apath2 = os.path.join(store_root, table, f"v={va}", _SAN)
    os.rename(apath2, apath2 + ".bak")
    try:
        kept_fb2, total_fb2 = store.pruned_files(table, apreds)
        plan_fb = _plan_ms_append()
    finally:
        os.rename(apath2 + ".bak", apath2)
    assert (sorted(kept_fb2), total_fb2) == (sorted(kept_a), total_a)
    got = store.read_where(table, apreds).count()
    out["append_table"] = {
        "n_commits": n_appends,
        "n_dirs": n_appends,
        "files_kept": len(kept_a),
        "files_total": total_a,
        "setup_s": setup_s,
        "plan_agg_ms": plan_agg,
        "plan_objects_read_agg": 1,
        "plan_fallback_ms": plan_fb,
        "plan_objects_read_fallback": 2 * n_appends,  # listing + sidecar per dir
        "rows_read": got,
        "results_equal": got == 3 * chunk,
    }
    print("append_table:", out["append_table"], flush=True)

    out["interpretation"] = (
        "Once clustered, parquet row-group pushdown already skips "
        "non-matching DATA pages, so zone maps save the per-file "
        "metadata constant: a scheduled task + footer open per file. "
        "On this warm single box that constant is visible at 64 files "
        "(speedup ~1.5x) and amortized away at 512 tiny files by "
        "coalesced file partitions + page cache (wall-neutral; "
        "executorRunTime and inputBytes still drop). On object "
        "storage each footer open is a network round trip and "
        "listings are O(files), which is the regime manifest-level "
        "stats exist for -- the artifact records the mechanism, not "
        "a universal wall-clock win."
    )
    line = json.dumps(out, sort_keys=True)
    print(line)
    if json_out:
        with open(json_out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
