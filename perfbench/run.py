"""Benchmark of the Spark ETL engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (closed loop, one client, ``local[nproc/2]``: the other half
of the cores is left to the driver thread, the JIT compiler, the GC and
the Python workers; on ``local[nproc]`` the approval batch's wall spread
0.2 from seed to seed where ``local[nproc/2]`` gave 0.03):

- ``headline_queries``: the 14 frozen ``bench.HEADLINE`` queries on the
  committed sf0.01 fixture, noop sink; the seed permutes each pass.
- ``approval_control``: approval batches against a 10^6-row ledger with
  10-row CSVs, so the control plane (ledger) dominates.
- ``approval_bulk``: the same batches against a 10^3-row ledger with
  1,000-row CSVs, so the data plane (keyed mutations) dominates.

A run sets up ``SETUP_REPS`` times (fresh session and fresh workload
state). The first set-up also launches the JVM; it is reported apart, and
``setup_s`` is the median CPU time of the others; stopping the previous
session is not timed. On the approval workloads the first set-up provisions a
tiny side store (``TINY_SIZES``), which warms the write path in about
half the time of a full one. ``headline_queries`` then warms up with one
untimed pass that checks outputs (the approval workloads time the first
batch after set-up). The run times passes until ``--seconds`` have
passed, checks every output, and prints one JSON line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``,
each with the unit ``BENCHMARK.json`` gives it. The timed end-to-end
metrics are CPU times (see ``tracing.tree_cpu_s``); the wall times are
in the report's ``detail``.
Provenance goes to stderr, and the full report to
``perfbench/.work/reports/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = {"headline_queries": 4, "approval_control": 2, "approval_bulk": 2}

APPROVAL_SIZES = {
    "approval_control": dict(ledger_rows=1_000_000, tables=2, table_rows=200, csv_rows=10),
    "approval_bulk": dict(ledger_rows=1_000, tables=4, table_rows=1_000, csv_rows=1_000),
}
TINY_SIZES = dict(ledger_rows=100, tables=2, table_rows=20, csv_rows=5)

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.gc_s",
)

# span name -> layer, by longest prefix
LAYERS = (
    "session", "catalog", "plans", "caching", "spark", "sources.ingest",
    "storage", "ledger", "streaming.pipeline", "bench",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["headline_queries", *APPROVAL_SIZES])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes: sf0.001 fixture, tiny pipeline")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def commit() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def declared_units() -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"n": n, "p": None, "value": None}
    s = sorted(xs)
    k = n - 11  # index with ten samples above it
    return {"n": n, "p": round(100 * (k + 1) / n, 1), "value": s[k]}


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def start_session(cpus: int, work: str):
    from etl_notifier_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def install_tracing(tracer) -> dict:
    """Wrap the engine's public calls at every module that bound them."""
    from etl_notifier_pipeline_spark import caching, catalog, storage
    from etl_notifier_pipeline_spark.ledger import Ledger
    from etl_notifier_pipeline_spark.sources import ingest
    from etl_notifier_pipeline_spark.streaming import pipeline
    from tracing import MeasurementError, file_sizes, patch_function, patch_method

    def simple(name):
        return lambda fn: tracer.wrap(name, fn)

    sites = {
        "catalog.load_table": patch_function(catalog, "load_table", simple("catalog.load_table")),
        "caching.tracked_persist": patch_function(
            caching, "tracked_persist", simple("caching.tracked_persist")),
        "sources.ingest.read_csv_all_string": patch_function(
            ingest, "read_csv_all_string", simple("sources.ingest.read_csv")),
    }

    def store_write(name):
        def wrapper(fn):
            def traced(self, table, *args, **kwargs):
                tdir = os.path.join(self.root, table)
                before = file_sizes(tdir)
                attrs = {"table": table}
                if name == "storage.apply_keyed_mutation":
                    attrs["op"] = kwargs.get("op", args[3] if len(args) > 3 else None)
                with tracer.span(name, **attrs) as rec:
                    out = fn(self, table, *args, **kwargs)
                new = {p: s for p, s in file_sizes(tdir).items() if p not in before}
                rec["bytes_written"] = sum(new.values())
                rec["files_written"] = len(new)
                return out
            return traced
        return wrapper

    for m in ("apply_keyed_mutation", "append", "overwrite"):
        patch_method(storage.BucketedTableStore, m, store_write(f"storage.{m}"))
    patch_method(storage.BucketedTableStore, "read", simple("storage.read"))
    for m in ("record_arrivals", "filter_unprocessed", "mark_many", "queue_deletes", "drain_deletes"):
        patch_method(Ledger, m, simple(f"ledger.{m}"))
    patch_method(pipeline.ApprovalPipeline, "run_batch", simple("streaming.pipeline.run_batch"))
    patch_method(pipeline.ApprovalPipeline, "drain_deletes", simple("streaming.pipeline.drain_deletes"))
    for name, n in sites.items():
        if n == 0:
            raise MeasurementError(f"{name}: no import site found to wrap")
    return sites


def layer_of(span_name: str) -> str:
    if span_name == "bench.table_read":
        return "storage"  # the consumer read: store.read plus the scan it forces
    best = max((lay for lay in LAYERS if span_name.startswith(lay + ".")), key=len, default="bench")
    return best


def per_layer(tracer, windows, timer_reqs, workload, queries, finish, n_pass) -> tuple[dict, dict]:
    """Per-layer metrics per timed pass, from the spans and the Spark
    counters of the timed passes; plus the self-time split by layer."""
    spans = [s for a, b in windows for s in tracer.spans[a:b]]
    selft = tracer.self_times()

    def total(name, pred=lambda s: True):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name and pred(s)) / n_pass

    def calls(name):
        return sum(1 for s in spans if s["name"] == name) / n_pass

    m = {}
    m["catalog.load_table_calls"] = calls("catalog.load_table")
    m["catalog.load_table_s"] = total("catalog.load_table")
    m["plans.build_s"] = total("plans.build")
    m["plans.build_jobs"] = sum(c["jobs"] for c in timer_reqs if c["group"].endswith("/build")) / n_pass
    m["spark.plan_s"] = sum(c["plan_s"] for c in timer_reqs if c["group"].endswith("/exec")) / n_pass
    m["spark.exec_s"] = total("spark.action") - m["spark.plan_s"]
    for q in queries:
        runs = getattr(workload, "per_query", {}).get(q, [])
        m[f"plans.build_s.{q}"] = median([r["build"] for r in runs]) if runs else 0.0
        m[f"spark.exec_s.{q}"] = median([r["exec"] - r["exec_spark"]["plan_s"] for r in runs]) if runs else 0.0
    key = {k: k.removeprefix("spark.") for k in SPARK_COUNTERS}
    for k, c in key.items():
        m[k] = sum(r[c] for r in timer_reqs) / n_pass
    m["caching.tracked_persist_calls"] = calls("caching.tracked_persist")
    m["caching.release_all_s"] = total("caching.release_all")
    m["sources.ingest.read_csv_calls"] = calls("sources.ingest.read_csv")
    m["sources.ingest.read_csv_s"] = total("sources.ingest.read_csv")
    m["storage.apply_keyed_mutation_calls"] = calls("storage.apply_keyed_mutation")
    for op in ("insert", "update", "delete"):
        m[f"storage.apply_keyed_mutation_s.{op}"] = total(
            "storage.apply_keyed_mutation", lambda s, op=op: s.get("op") == op)
    writes = [s for s in spans if "bytes_written" in s]
    m["storage.bytes_written"] = sum(s["bytes_written"] for s in writes) / n_pass
    m["storage.files_written"] = sum(s["files_written"] for s in writes) / n_pass
    csv_bytes = finish.get("csv_bytes_timed", 0)
    m["storage.write_amp"] = m["storage.bytes_written"] * n_pass / csv_bytes if csv_bytes else 0.0
    m["storage.store_mb"] = finish.get("store_mb", 0.0)
    m["storage.read_s"] = total("bench.table_read")
    m["storage.append_s"] = total("storage.append")
    m["storage.overwrite_s"] = total("storage.overwrite")
    for f in ("record_arrivals", "filter_unprocessed", "mark_many", "queue_deletes", "drain_deletes"):
        m[f"ledger.{f}_s"] = total(f"ledger.{f}")
    m["ledger.rows"] = float(finish.get("ledger_rows", 0))
    m["streaming.pipeline.notify_calls"] = finish.get("notify_calls_timed", 0) / n_pass
    m["streaming.pipeline.run_batch_self_s"] = sum(
        selft[s["id"]] for s in spans if s["name"] == "streaming.pipeline.run_batch") / n_pass
    split: dict[str, float] = {}
    for s in spans:
        if s["name"] == "bench.pass":
            continue
        lay = layer_of(s["name"])
        split[lay] = split.get(lay, 0.0) + selft[s["id"]] / n_pass
    return m, split


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    slots = max(1, nproc // 2)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    prepare_env(work)
    # Import the engine before anything is timed: outside a checkout of
    # the repository this fails, and the run exits without a result.
    import bench  # noqa: F401

    from etl_notifier_pipeline_spark import plans  # noqa: F401
    from etl_notifier_pipeline_spark.streaming import pipeline  # noqa: F401
    from model import Sizes
    from tracing import (
        MeasurementError, SparkCounters, Tracer, file_sizes, steal_ticks, tree_cpu_s,
        vm_hwm_mb,
    )
    from workloads import ApprovalPipeline, HeadlineQueries, Timer, headline_names

    units = declared_units()
    fixture = os.path.join(HERE, "fixture", "sf0.001" if args.tiny else "sf0.01")
    tracer = Tracer() if args.trace else None
    sites = install_tracing(tracer) if tracer else {}
    rng = random.Random(args.seed)
    timer = Timer(tracer)
    if args.workload == "headline_queries":
        wl = HeadlineQueries(None, rng, fixture, timer, tracer)
        first_wl = wl
    else:
        sizes = Sizes(**(TINY_SIZES if args.tiny else APPROVAL_SIZES[args.workload]))
        wl = ApprovalPipeline(sizes, None, args.seed, os.path.join(work, "pipeline"), timer, tracer)
        first_wl = ApprovalPipeline(Sizes(**TINY_SIZES), None, args.seed,
                                    os.path.join(work, "warmup"), timer, tracer)

    spark = None
    setup_s = []  # wall
    setup_cpu_s = []
    session_s = []
    try:
        for rep in range(SETUP_REPS[args.workload]):
            if spark is not None:
                spark.stop()  # teardown of the previous set-up, not timed
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("session.start", rep=rep):
                    spark = start_session(slots, work)
            else:
                spark = start_session(slots, work)
            session_s.append(time.perf_counter() - t0)
            (first_wl if rep == 0 else wl).setup(spark)
            setup_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(tree_cpu_s() - c0)
        if tracer:
            timer.counters = SparkCounters(spark)
        wl.spark = spark
        wl.warm()
        windows, passes = [], []
        n_req0 = len(timer.spark_by_request)
        notify0 = getattr(getattr(wl, "notifier", None), "calls", 0)
        csv0 = getattr(getattr(wl, "gen", None), "csv_bytes", 0)
        steal0 = steal_ticks()
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            a = len(tracer.spans) if tracer else 0
            if tracer:
                with tracer.span("bench.pass", n=len(passes)):
                    passes.append(wl.run_pass(len(passes)))
            else:
                passes.append(wl.run_pass(len(passes)))
            windows.append((a, len(tracer.spans) if tracer else 0))
        loop_s = time.perf_counter() - t_loop
        steal1 = steal_ticks()
        timed_reqs = timer.spark_by_request[n_req0:]
        finish = wl.finish()
        if hasattr(wl, "notifier"):
            finish["notify_calls_timed"] = wl.notifier.calls - notify0
            finish["csv_bytes_timed"] = wl.gen.csv_bytes - csv0
            if tracer:
                finish["store_mb"] = sum(file_sizes(wl.pipe.store.root).values()) / 2**20
                finish["ledger_rows"] = wl.pipe.store.read("processed_files").count()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
        master = spark.sparkContext.master
    finally:
        if spark is not None:
            stop_jvm(spark)

    # -- end-to-end metrics ------------------------------------------------
    requests = [r for p in passes for r in p["requests"]]
    kinds: dict[str, list[float]] = {}
    kinds_cpu: dict[str, list[float]] = {}
    for p in passes:
        for k, v in p["calls"].items():
            kinds.setdefault(k, []).extend(v)
        for k, v in p["calls_cpu"].items():
            kinds_cpu.setdefault(k, []).extend(v)
    cpu_medians = [median(v) for v in kinds_cpu.values()]
    if not requests or any(not v for v in kinds.values()) or not all(cpu_medians):
        raise MeasurementError(f"timed passes produced no samples: {kinds_cpu}")
    # The end-to-end metrics are CPU times: on a shared 4-core host whose
    # steal went from under 1% to 27% of a run over ten seeds, the quartile
    # spread of
    # the pass wall was 0.39 (headline_queries) and 0.37 (approval_control),
    # that of the pass CPU time 0.09 and 0.10. The walls are in the run's
    # detail, with request_p50_ms and peak_rss_mb (spread 0.19 and 0.30
    # on headline_queries).
    e2e = {
        "setup_s": median(setup_cpu_s[1:]),
        "pass_cpu_s": median([p["cpu"] for p in passes]),
        "call_cpu_geomean_ms": 1e3 * geomean(cpu_medians),
    }
    items = sum(p["items"] for p in passes)
    total_ticks = steal1[1] - steal0[1]
    detail = {
        "pass_wall_s": median([p["wall"] for p in passes]),
        "call_geomean_ms": 1e3 * geomean([median(v) for v in kinds.values()]),
        "steal_share": (steal1[0] - steal0[0]) / total_ticks if total_ticks else 0.0,
        "request_p50_ms": 1e3 * median(requests),
        "request_tail": tail(requests),
        "peak_rss_mb": peak_rss,
        "setup_wall_s": median(setup_s[1:]),
        "cold_setup_s": setup_s[0],
    }
    if args.workload == "headline_queries":
        failed = len(wl.failed)
        attempted = wl.attempted
        detail |= {
            "query_sweep_s": detail["pass_wall_s"],
            "query_geomean_ms": detail["call_geomean_ms"],
            "query_fail_ratio": failed / attempted,
            "query_median_ms": {q: 1e3 * median(v) for q, v in kinds.items()},
            "queries_per_s": items / loop_s,
        }
    else:
        failed = len(finish["failed_events"]) + len(finish["failed_ops"])
        attempted = finish["events"] + len(finish["failed_ops"])
        detail |= {
            "approve_batch_p50_ms": 1e3 * median(kinds["run_batch"]),
            "arrival_batch_p50_ms": 1e3 * median(kinds["record_arrivals"]),
            "drain_p50_ms": 1e3 * median(kinds["drain"]),
            "table_read_p50_ms": 1e3 * median(kinds.get("table_read", [])),
            "events_per_s": items / loop_s,
            "event_fail_ratio": len(finish["failed_events"]) / finish["events"],
        }

    e2e_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    metrics, layer_metrics, layer_split = e2e_metrics, {}, None
    if tracer:
        pl, layer_split = per_layer(tracer, windows, timed_reqs, wl, headline_names(), finish,
                                    len(passes))
        pl["session.start_s"] = session_s[0]  # the JVM launch
        check_layers(args.workload, pl)
        layer_metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(pl.items())}
        metrics = layer_metrics
    provenance = {
        "host": socket.gethostname(),
        "nproc": nproc,
        "spark_master": master,
        "fixture": os.path.relpath(fixture, ROOT),
        "commit": commit(),
        "seed": args.seed,
        "workload": args.workload,
        "sizes": wl.sizes(),
        "run_seconds": args.seconds,
        "trace": args.trace,
        "wrapped_import_sites": sites,
    }
    report = {
        "provenance": provenance,
        "end_to_end": e2e,
        "detail": detail,
        "samples": {
            "setup_s": setup_s,
            "setup_cpu_s": setup_cpu_s,
            "session_start_s": session_s,
            "passes": [p["wall"] for p in passes],
            "requests": len(requests),
        },
        "finish": finish,
        "per_layer": layer_metrics,
        "layer_self_s_per_pass": layer_split,
    }
    if tracer:
        report["spans"] = tracer.spans
    os.makedirs(os.path.join(HERE, ".work", "reports"), exist_ok=True)
    out = os.path.join(HERE, ".work", "reports", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": provenance, "detail": detail}, default=str), file=sys.stderr)
    for k, v in {**e2e_metrics, **layer_metrics}.items():
        print(f"[perfbench] {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def check_layers(workload: str, m: dict) -> None:
    """Abort when a layer the workload exercises recorded no calls."""
    from tracing import MeasurementError

    must = {
        "headline_queries": ("catalog.load_table_calls", "plans.build_s", "spark.jobs",
                             "caching.tracked_persist_calls"),
    }.get(workload, ("sources.ingest.read_csv_calls", "storage.apply_keyed_mutation_calls",
                     "ledger.record_arrivals_s", "ledger.mark_many_s", "spark.jobs",
                     "streaming.pipeline.notify_calls"))
    zero = [k for k in must if not m.get(k)]
    if zero:
        raise MeasurementError(f"{workload}: layers it exercises recorded nothing: {zero}")


if __name__ == "__main__":
    sys.exit(main())
