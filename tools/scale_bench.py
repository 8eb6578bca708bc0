"""Measured scale evidence: headline queries + engine metrics at sfN.

Runs the same headline set as bench.py against an amplified fixture
(tools/scale_up.py) and records, per query, what bench.py's wall-clock
number cannot show: shuffle read/write bytes, memory/disk spill, and
input bytes, pulled from the Spark status REST API by diffing the
completed-stage set around each run. This is the r4 verdict's headline
ask — the difference between "the plan SHAPE would survive 100 TB" and
"we RAN it at a scale where shuffle and AQE actually engage, here are
the bytes".

DuckDB twins ride along exactly as in bench.py so the ratio story
extends to scale (fixed JVM overhead amortizes; the interesting
question is the slope, not the intercept).

Usage: python tools/scale_bench.py /root/repo/.scale/sf10 --runs 2 \
           --json SCALE_BENCH_sf10.json [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_notifier_pipeline_spark import caching, plans  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402
from tools.benchproto import (  # noqa: E402
    configure_io_canary,
    PROTOCOL_VERSION,
    artifact_vs_prev,
    stamped_runs,
)

METRIC_FIELDS = (
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorRunTime",
)


def _api(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def _stages(spark) -> dict[int, dict]:
    app_id = spark.sparkContext.applicationId
    stages = _api(spark, f"applications/{app_id}/stages?status=complete")
    return {(s["stageId"], s["attemptId"]): s for s in stages}


def _gc_and_heap(spark, peak: bool = True) -> tuple[int, int | None]:
    """(total JVM GC ms across executors, peak JVM heap bytes).

    GC time is cumulative per executor — diff it around a run. Peak
    heap is a high-water mark, not diffable, but still tells whether a
    run operated near the heap ceiling (the GC-thrash regime). Executors
    report it with their heartbeats, so ``peak=False`` skips it (None)
    for a read taken before any work ran.

    Errors propagate: a failed metrics read aborts the run instead of
    recording zeros."""
    app_id = spark.sparkContext.applicationId
    execs = _api(spark, f"applications/{app_id}/executors")
    gc = sum(int(e["totalGCTime"]) for e in execs)
    if not peak:
        return gc, None
    peaks = [
        int(e["peakMemoryMetrics"]["JVMHeapMemory"])
        for e in execs
        if "peakMemoryMetrics" in e
    ]
    if not peaks:
        raise RuntimeError("no executor reports peakMemoryMetrics")
    return gc, max(peaks)


def measured_run(spark, fn, sf_dir: str) -> tuple[float, dict[str, int]]:
    before = _stages(spark)
    gc0 = _gc_and_heap(spark, peak=False)[0]
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    after = _stages(spark)
    gc1, peak = _gc_and_heap(spark)
    delta = {f: 0 for f in METRIC_FIELDS}
    for key, s in after.items():
        if key in before:
            continue
        for f in METRIC_FIELDS:
            delta[f] += int(s[f])
    delta["jvmGcTimeMs"] = gc1 - gc0
    delta["peakJvmHeapBytes"] = peak
    return wall, delta


def main() -> None:
    args = sys.argv[1:]
    n_runs = 2
    json_out = None
    if "--runs" in args:
        i = args.index("--runs")
        n_runs = int(args[i + 1])
        del args[i : i + 2]
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    no_duck = "--no-duck" in args
    if no_duck:
        args.remove("--no-duck")
    no_warm = "--no-warm" in args  # diagnosis mode: cold single runs
    if no_warm:
        args.remove("--no-warm")
    # --rows: also record the result row count (an extra unmeasured
    # execution) — the growth ladder's linearity currency.
    with_rows = "--rows" in args
    if with_rows:
        args.remove("--rows")
    profile = "oracle"
    if "--profile" in args:
        i = args.index("--profile")
        profile = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/repo/.scale/sf10"
    # stamp IO-canary brackets must probe the directory this run
    # actually measures (r13 review fix)
    configure_io_canary(sf_dir)
    only = [a for a in args if "/" not in a]

    import bench  # noqa: E402  (HEADLINE + TWIN_SQL live there)

    names = only or bench.HEADLINE
    canary_pre = bench.host_canary_ms()
    # The engine session disables the UI (serving threads cost memory
    # in a 164-query sweep); the metrics REST API lives on the UI
    # server, so this harness turns it back on for its own session.
    spark = get_spark(
        "scale-bench", extra_conf={"spark.ui.enabled": "true"}
    )
    out: dict[str, dict] = {}
    from etl_notifier_pipeline_spark.extensions import dedup as _dedup

    for name in names:
        fn, _ = bench.resolve(name, profile)
        # Warm once (bench.py protocol): with --runs 1 the single
        # measured run otherwise pays first-touch parquet footer reads
        # and JIT, which at sfN swamped real differences (q01 cold
        # 11.5s vs warm 4.0s on identical plans). --no-warm skips it
        # for diagnosis runs where the cold behavior IS the question.
        if not no_warm:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            caching.release_all()

        def run_once(fn=fn):
            _dedup.LAST_CLUSTER_STATS.clear()
            wall, m = measured_run(spark, fn, sf_dir)
            if _dedup.LAST_CLUSTER_STATS:
                m = {**m, "cluster": dict(_dedup.LAST_CLUSTER_STATS)}
            caching.release_all()
            return wall, m

        out[name] = stamped_runs(run_once, n_runs=n_runs)
        best_wall, best_m = out[name]["sec"], out[name]
        if with_rows:
            out[name]["rows"] = fn(spark, sf_dir).count()
            caching.release_all()
        cluster = best_m.get("cluster")
        print(
            f"{name}: {best_wall:.2f}s  "
            f"input={best_m['inputBytes']/1e6:.0f}MB "
            f"shufW={best_m['shuffleWriteBytes']/1e6:.0f}MB "
            f"shufR={best_m['shuffleReadBytes']/1e6:.0f}MB "
            f"spillMem={best_m['memoryBytesSpilled']/1e6:.0f}MB "
            f"spillDisk={best_m['diskBytesSpilled']/1e6:.0f}MB "
            f"gc={best_m['jvmGcTimeMs']/1e3:.1f}s "
            f"peakHeap={best_m['peakJvmHeapBytes']/1e9:.1f}GB"
            + (f" cluster={cluster}" if cluster else ""),
            flush=True,
        )
    # Symmetric protocol (r5 ADVICE): DuckDB twins get the same
    # warm-then-measure treatment as the Spark side.
    duck = (
        {}
        if no_duck
        else bench.duckdb_twin_times(
            sf_dir, names, n_runs=n_runs, warm=not no_warm, profile=profile,
            stamped=True,
        )
    )
    spark_total = sum(v["sec"] for v in out.values())
    spark_paired = sum(
        v["sec"] for n, v in out.items() if duck.get(n) is not None
    )
    duck_total = sum(t["sec"] for t in duck.values() if t is not None)
    from etl_notifier_pipeline_spark.operators import starjoin

    doc = {
        "metric": "scale_headline_total",
        "value": round(spark_total, 3),
        "unit": "sec",
        "protocol": {
            "runs": n_runs,
            "canary": PROTOCOL_VERSION,
            "warm": not no_warm,
            "symmetric": True,  # DuckDB twins use the same warm+runs
            "numeric_profile": profile,
            # the single local JVM's heap: per-task execution memory
            # is heap/32 slots, the binding constraint for map-side
            # partial-aggregation spill on amplifying plans (r11)
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            # one-time ingest-layout builds (bucketed star tables)
            # paid during this process, reported so the steady-state
            # per-query numbers never hide them
            **(
                {"ingest_build_secs": dict(starjoin.LAST_BUILD_SECS)}
                if starjoin.LAST_BUILD_SECS
                else {}
            ),
        },
        "sf_dir": sf_dir,
        "queries": out,
        "duckdb": duck,
        "duckdb_total": round(duck_total, 4),
        "ratio_vs_duckdb": (
            round(spark_paired / duck_total, 4) if duck_total else None
        ),
        # host-speed canary (bench.host_canary_ms): shared-VM CPU
        # varies 3.5x/day — compare artifacts canary-normalized
        "host_canary_ms_pre": canary_pre,
        "host_canary_ms_post": bench.host_canary_ms(),
    }
    # Canary-normalized comparison against the artifact this run is
    # about to overwrite: ratio swings decompose into engine movement,
    # twin movement, or host weather from the artifact itself.
    if json_out and os.path.exists(json_out):
        try:
            with open(json_out) as f:
                doc["vs_prev"] = artifact_vs_prev(json.load(f), doc)
        except (
            OSError,
            json.JSONDecodeError,
            # a malformed prev artifact (non-numeric entry -> ValueError
            # in _entry_sec, zero prev_sec -> ZeroDivisionError, wrong
            # shape -> TypeError/KeyError/AttributeError) must degrade
            # to vs_prev-absent, not abort the write AFTER the full
            # expensive benchmark completed and lose the new stamps
            ValueError,
            TypeError,
            KeyError,
            AttributeError,
            ZeroDivisionError,
        ):
            doc["vs_prev"] = None
    print(json.dumps(doc))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
