"""The benchmark's workloads: the headline query sweep and the approval
pipeline. Both are closed loops with one client: the next request is
sent only after the previous one completed.

Each workload has ``setup`` (timed, repeated), ``warm`` (untimed, and
where outputs are checked against their expected values), ``run_pass``
(one timed pass) and ``finish`` (untimed end-of-run checks). A pass
returns ``{"wall": s, "cpu": s, "requests": [s...], "calls": {kind:
[s...]}, "calls_cpu": {kind: [s...]}, "items": n}``: wall times, and the
CPU times of the whole process tree (``tracing.tree_cpu_s``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from model import Generator, Sizes
from tracing import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))


class Timer:
    """Wall and CPU time of the benchmark's own calls into the engine;
    with a tracer, also a span and the Spark counters of the call's job
    group."""

    def __init__(self, tracer=None, counters=None) -> None:
        self.tracer = tracer
        self.counters = counters
        self.spark_by_request: list[dict] = []

    def call(self, group: str, span: str | None, fn, *, spark_work: bool = True, **attrs):
        """Run ``fn()``; return ``(result, wall s, CPU s, counters or None)``."""
        if self.tracer is None:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            return out, dt, tree_cpu_s() - c0, None
        self.counters.group(group)
        t_epoch = time.time()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        if span is None:
            out = fn()
        else:
            with self.tracer.span(span, **attrs):
                out = fn()
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        c = self.counters.read(group)
        if spark_work:
            self.counters.require_work(group, c)
        c["plan_s"] = (
            max(0.0, c["first_submit_ms"] / 1e3 - t_epoch)
            if c["first_submit_ms"] is not None
            else 0.0
        )
        c["group"] = group
        self.spark_by_request.append(c)
        return out, dt, cpu, c


def headline_names() -> list[str]:
    """``bench.HEADLINE`` minus its CPU probe, which is no registry query."""
    import bench

    from etl_notifier_pipeline_spark import plans

    return [q for q in bench.HEADLINE if q in plans.specs()]


class HeadlineQueries:
    """The 14 frozen ``bench.HEADLINE`` queries on the committed fixture,
    written to the noop sink. The seed permutes the order of every pass."""

    def __init__(self, spark, rng, fixture: str, timer: Timer, tracer=None) -> None:
        from etl_notifier_pipeline_spark import plans

        self.spark = spark
        self.rng = rng
        self.fixture = fixture
        self.timer = timer
        self.tracer = tracer
        self.queries = headline_names()
        self.fns = {q: plans.get(q).fn for q in self.queries}
        sf = os.path.basename(fixture.rstrip("/"))
        with open(os.path.join(HERE, "expected", f"{sf}.json")) as f:
            self.expected = json.load(f)
        self.attempted = 0
        self.failed: list[str] = []
        self.per_query: dict[str, list[dict]] = {q: [] for q in self.queries}

    def sizes(self) -> dict:
        return {"queries": len(self.queries), "fixture_tables": 10}

    def setup(self, spark) -> None:
        from etl_notifier_pipeline_spark import catalog

        self.spark = spark
        catalog.register_views(spark, self.fixture)

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def warm(self) -> None:
        """One untimed pass down the timed path (build, noop write), which
        then checks every output against its stored hash; a mismatch is a
        failed query. Without the noop write here, the first timed pass
        still compiles its write stages and ran about a quarter slower
        than the next one."""
        from etl_notifier_pipeline_spark import caching
        from tools.parity import pandas_rows, table_hash

        for q in self._order():
            self.attempted += 1
            exp = self.expected[q]
            try:
                df = self.fns[q](self.spark, self.fixture)
                df.write.format("noop").mode("overwrite").save()
                pdf = df.toPandas()
                n, h, cols = table_hash(list(pdf.columns), pandas_rows(pdf))
                ok = n == exp["rows"] and cols == exp["columns"] and h == exp.get("hash", h)
            except Exception as exc:  # a failing query is a result, not a crash
                print(f"[perfbench] {q} raised: {exc}", flush=True)
                ok = False
            finally:
                caching.release_all()
            if not ok:
                self.failed.append(q)

    def run_pass(self, pass_no: int) -> dict:
        from etl_notifier_pipeline_spark import caching

        c_pass = tree_cpu_s()
        t_pass = time.perf_counter()
        walls, cpus = {}, {}
        for q in self._order():
            self.attempted += 1
            if self.tracer is not None:
                self.tracer.request = f"{q}#{pass_no}"
            try:
                df, build_s, build_cpu, cb = self.timer.call(
                    f"{q}#{pass_no}/build", "plans.build",
                    lambda: self.fns[q](self.spark, self.fixture),
                    spark_work=False, query=q,
                )
                _, exec_s, exec_cpu, cx = self.timer.call(
                    f"{q}#{pass_no}/exec", "spark.action",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                    query=q,
                )
            except Exception as exc:
                print(f"[perfbench] {q} raised: {exc}", flush=True)
                self.failed.append(q)
                caching.release_all()
                continue
            walls[q] = build_s + exec_s
            cpus[q] = build_cpu + exec_cpu
            self.per_query[q].append(
                {"wall": build_s + exec_s, "build": build_s, "exec": exec_s,
                 "build_spark": cb, "exec_spark": cx}
            )
            self.timer.call(
                f"{q}#{pass_no}/release", "caching.release_all",
                caching.release_all, spark_work=False,
            )
        return {
            "wall": time.perf_counter() - t_pass,
            "cpu": tree_cpu_s() - c_pass,
            "requests": list(walls.values()),
            "calls": {q: [w] for q, w in walls.items()},
            "calls_cpu": {q: [c] for q, c in cpus.items()},
            "items": len(walls),
        }

    def finish(self) -> dict:
        return {"failed_queries": sorted(set(self.failed))}


class CountingNotifier:
    """Notifier that keeps how many notifications each event received."""

    _EVENT = re.compile(r"\(Event ID: ([^)]*)\)")

    def __init__(self) -> None:
        self.calls = 0
        self.by_event: dict[str, int] = {}

    def notify(self, subject: str, body: str) -> None:
        self.calls += 1
        m = self._EVENT.search(body)
        key = m.group(1) if m else "?"
        self.by_event[key] = self.by_event.get(key, 0) + 1


class ApprovalPipeline:
    """Approval events through ``ApprovalPipeline``: each pass is one
    batch — ``record_arrivals``, ``run_batch``, a consumer read of every
    table the batch wrote, then ``drain_deletes``. The drain runs every
    batch so that every pass does the same work."""

    def __init__(self, sizes: Sizes, spark, seed: int, work: str, timer: Timer,
                 tracer=None) -> None:
        self.sz = sizes
        self.spark = spark
        self.seed = seed
        self.work = work
        self.timer = timer
        self.tracer = tracer
        self.batch_no = 0
        self.failed_ops: list[str] = []

    def sizes(self) -> dict:
        return {
            "ledger_rows": self.sz.ledger_rows,
            "tables": self.sz.tables,
            "table_rows": self.sz.table_rows,
            "csv_rows": self.sz.csv_rows,
            "events_per_batch": self.sz.events_per_batch,
        }

    def setup(self, spark) -> None:
        """A fresh store: the target tables and a ledger of
        ``ledger_rows`` processed rows, written directly."""
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.ledger import PROCESSED_FILES_SCHEMA
        from etl_notifier_pipeline_spark.streaming.pipeline import (
            ApprovalPipeline as Pipeline,
        )

        self.spark = spark
        shutil.rmtree(self.work, ignore_errors=True)
        csv_root = os.path.join(self.work, "csv")
        os.makedirs(csv_root)
        self.gen = Generator(self.seed, self.sz, csv_root)
        self.notifier = CountingNotifier()
        self.pipe = Pipeline(
            spark, self.notifier, {t: ["id"] for t in self.gen.names}, csv_root,
            store_root=os.path.join(self.work, "store"),
        )
        for t in self.gen.names:
            self.pipe.store.overwrite(
                t, spark.createDataFrame(self.gen.initial_rows(t), "id string, name string, amount string")
            )
        cols = {
            "file_name": F.format_string("pre%07d.csv", "id"),
            "event_id": F.format_string("pre%07d", "id"),
            "file_version": F.lit(1),
            "is_processed": F.lit(True),
            "bucket": F.lit("bench"),
            "operation": F.lit("insert"),
            "status": F.lit("approved"),
            "approval_timestamp": F.lit("2024-01-01T00:00:00Z"),
        }
        ledger = spark.range(self.sz.ledger_rows).select(
            *[cols[f.name].cast(f.dataType).alias(f.name) for f in PROCESSED_FILES_SCHEMA.fields]
        )
        self.pipe.store.overwrite("processed_files", ledger)

    def warm(self) -> None:
        """No untimed batch: the timed batch is the first after set-up.
        An untimed batch would cost about as much as the timed one (20 to
        35 s on 4 cores), more than a run can spend; the tiny first
        set-up warms the write path instead (see ``run.py``)."""

    def run_pass(self, pass_no: int) -> dict:
        from etl_notifier_pipeline_spark.streaming.pipeline import approval_event_schema

        b = self.batch_no
        self.batch_no += 1
        if self.tracer is not None:
            self.tracer.request = f"batch{b}"
        c_pass = tree_cpu_s()
        t_pass = time.perf_counter()
        events = self.gen.batch(b)
        arrivals = self.spark.createDataFrame(
            [(e.file_name, e.event_id, "bench", e.operation) for e in events],
            "file_name string, event_id string, bucket string, operation string",
        )
        approvals = self.spark.createDataFrame(
            [
                (e.event_id, e.action, e.file_name, e.table, e.operation, "bench",
                 "1", "2024-01-01T00:00:00Z", "2024-01-01T00:00:01Z", "127.0.0.1")
                for e in events
            ],
            approval_event_schema(),
        )
        calls: dict[str, list[float]] = {}
        calls_cpu: dict[str, list[float]] = {}

        def timed(kind: str, span: str | None, fn, **attrs):
            try:
                _, dt, cpu, _ = self.timer.call(f"batch{b}/{kind}", span, fn, **attrs)
            except Exception as exc:
                print(f"[perfbench] batch {b} {kind} raised: {exc}", flush=True)
                self.failed_ops.append(f"batch{b}/{kind}")
                return None
            calls.setdefault(kind, []).append(dt)
            calls_cpu.setdefault(kind, []).append(cpu)
            return dt

        timed("record_arrivals", None, lambda: self.pipe.ledger.record_arrivals(arrivals))
        run_s = timed("run_batch", None, lambda: self.pipe.run_batch(approvals, b))
        touched = sorted({e.table for e in events if e.kind in ("insert", "update")})
        for t in touched:
            timed(
                "table_read", "bench.table_read",
                lambda t=t: self.pipe.store.read(t).write.format("noop").mode("overwrite").save(),
                table=t,
            )
        timed("drain", None, self.pipe.drain_deletes)
        self.gen.model.drain()
        return {
            "wall": time.perf_counter() - t_pass,
            "cpu": tree_cpu_s() - c_pass,
            "requests": [run_s] if run_s is not None else [],
            "calls": calls,
            "calls_cpu": calls_cpu,
            "items": len(events),
        }

    def finish(self) -> dict:
        """Compare the store, the ledger, ``dead_letters`` and the
        notifier with the reference model; return the failed events."""
        from pyspark.sql import functions as F

        store = self.pipe.store
        bad: dict[str, str] = {}
        events = self.gen.events
        for t in self.gen.names:
            rows = store.read(t).select("id", "name", "amount").collect()
            actual = {r["id"]: (r["name"], r["amount"]) for r in rows}
            if len(actual) != len(rows) or actual != self.gen.model.tables[t]:
                for e in events:
                    if e.table == t and e.kind in ("insert", "update", "delete"):
                        bad.setdefault(e.event_id, f"table {t} differs from the model")
        ids = [e.event_id for e in events]
        ledger = {
            r["event_id"]: (r["status"], r["is_processed"])
            for r in store.read("processed_files")
            .filter(F.col("event_id").isin(ids))
            .select("event_id", "status", "is_processed")
            .collect()
        }
        dead: dict[str, int] = {}
        if store.exists("dead_letters"):
            for r in store.read("dead_letters").select("event_id").collect():
                dead[r["event_id"]] = dead.get(r["event_id"], 0) + 1
        for e in events:
            if ledger.get(e.event_id) != (e.expected_status, True):
                bad.setdefault(e.event_id, f"ledger {ledger.get(e.event_id)}")
            if dead.get(e.event_id, 0) != (e.kind == "poison"):
                bad.setdefault(e.event_id, f"{dead.get(e.event_id, 0)} dead letters")
            if self.notifier.by_event.get(e.event_id, 0) != 1:
                bad.setdefault(e.event_id, f"{self.notifier.by_event.get(e.event_id, 0)} notifications")
        return {
            "events": len(events),
            "failed_events": bad,
            "failed_ops": self.failed_ops,
            "csv_bytes": self.gen.csv_bytes,
        }
