"""Control-plane + approval-pipeline end-to-end tests (SURVEY §5.4):
pending -> approved/rejected/failed transitions, idempotent replay,
two-phase delete drain, versioning, notification hooks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.ledger import Ledger
from etl_notifier_pipeline_spark.streaming import ApprovalPipeline, LogNotifier


def make_arrivals(spark, *rows):
    return spark.createDataFrame(
        list(rows), ["file_name", "event_id", "bucket", "operation"]
    )


def make_store(spark, root, backend):
    from etl_notifier_pipeline_spark.ledger import LEDGER_KEYS
    from etl_notifier_pipeline_spark.storage import BucketedTableStore, TableStore

    if backend == "table_store":
        return TableStore(spark, root)
    return BucketedTableStore(spark, root, keys=LEDGER_KEYS)


class TestLedger:
    def test_versioning_and_idempotency(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        led.record_arrivals(
            make_arrivals(spark, ("f.csv", "e1", "b", "insert"), ("f.csv", "e2", "b", "insert"))
        )
        pf = led.processed_files()
        versions = {r["event_id"]: r["file_version"] for r in pf.collect()}
        assert versions == {"e1": 1, "e2": 2}  # MAX+1 per file, batch form
        assert {r["status"] for r in pf.collect()} == {"pending"}

        # redelivery of e2 + a new arrival: e2 dropped, version continues
        led.record_arrivals(
            make_arrivals(spark, ("f.csv", "e2", "b", "insert"), ("f.csv", "e3", "b", "insert"))
        )
        versions = {r["event_id"]: r["file_version"] for r in led.processed_files().collect()}
        assert versions == {"e1": 1, "e2": 2, "e3": 3}

    def test_mark_and_filter_unprocessed(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        led.record_arrivals(make_arrivals(spark, ("f.csv", "e1", "b", "insert")))
        led.mark(spark.createDataFrame([("e1",)], ["event_id"]), "approved",
                 approval_timestamp="2026-01-01T00:00:00Z")
        row = led.processed_files().collect()[0]
        assert (row["status"], row["is_processed"]) == ("approved", True)
        ev = spark.createDataFrame([("e1",), ("e9",)], ["event_id"])
        assert [r["event_id"] for r in led.filter_unprocessed(ev).collect()] == ["e9"]

    def test_invalid_status_rejected(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        with pytest.raises(ValueError, match="invalid status"):
            led.mark(spark.createDataFrame([("x",)], ["event_id"]), "nope")

    def test_queue_deletes_dedup_and_ids(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        reqs = spark.createDataFrame(
            [("e1", "t", '{"k":"1"}'), ("e1", "t", '{"k":"2"}')],
            ["event_id", "target_table", "key_json"],
        )
        first = led.queue_deletes(reqs)
        assert sorted(r["query_id"] for r in first.collect()) == [1, 2]
        # same keys again -> all already pending -> nothing queued (J5)
        again = led.queue_deletes(reqs)
        assert again.count() == 0

    @pytest.mark.parametrize("backend", ["table_store", "bucketed"])
    def test_redelivery_commits_no_version(self, spark, tmp_path, backend):
        """An arrival batch whose event_ids are all in the ledger, and a
        mark of event_ids all absent from it, commit nothing: an empty
        version would move a real snapshot toward vacuum."""
        store = make_store(spark, str(tmp_path / backend), backend)
        led = Ledger(spark, store)
        arrival = make_arrivals(spark, ("f.csv", "e1", "b", "insert"))
        led.record_arrivals(arrival)
        v = store.current_version("processed_files")
        assert led.record_arrivals(arrival).count() == 0
        led.record_arrivals(arrival)
        assert store.current_version("processed_files") == v
        led.mark(spark.createDataFrame([("e9",)], ["event_id"]), "approved")
        assert store.current_version("processed_files") == v
        assert [tuple(r) for r in led.processed_files().select(
            "event_id", "file_version", "status").collect()] == [("e1", 1, "pending")]

    @pytest.mark.parametrize("backend", ["table_store", "bucketed"])
    def test_delete_queued_during_drain_stays_pending(self, spark, tmp_path, backend):
        """A delete queued while a drain runs its deletes is either left
        pending by the drain's executed-flag flip, or fails the flip
        with ConcurrentWriteError — never marked executed unapplied or
        erased."""
        from etl_notifier_pipeline_spark.storage import ConcurrentWriteError

        store = make_store(spark, str(tmp_path / backend), backend)
        led = Ledger(spark, store)

        def req(k):
            return spark.createDataFrame(
                [("e1", "t", f'{{"k":"{k}"}}')], ["event_id", "target_table", "key_json"]
            )

        led.queue_deletes(req(1))
        applied = []

        def apply_fn(pending):
            applied.extend(r["key_json"] for r in pending.collect())
            led.queue_deletes(req(2))

        try:
            assert led.drain_deletes(apply_fn) == 1
            drained = True
        except ConcurrentWriteError:
            drained = False
        assert applied == ['{"k":"1"}']
        flags = {r["key_json"]: r["executed_flag"] for r in led.delete_control().collect()}
        assert flags == {'{"k":"1"}': drained, '{"k":"2"}': False}


@pytest.fixture()
def pipeline(spark, tmp_store, tmp_path):
    csv_root = tmp_path / "bucket"
    csv_root.mkdir()
    (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
    (csv_root / "people_v2.csv").write_text("pid,name\n2,BOB\n3,cyd\n")
    (csv_root / "people_del.csv").write_text("pid,name\n1,ann\n")
    notifier = LogNotifier()
    pipe = ApprovalPipeline(
        spark=spark, store=tmp_store, notifier=notifier,
        keys={"people": ["pid"]}, csv_root=str(csv_root),
    )
    return pipe


def ev(event_id, action, file_name, table, op):
    return {
        "event_id": event_id, "action": action, "file_name": file_name,
        "table_name": table, "operation": op, "bucket": "b",
        "file_version": "1", "provided_timestamp": None,
        "approval_timestamp": "2026-01-01T00:00:00Z", "remote_address": None,
    }


def batch(spark, *events):
    from etl_notifier_pipeline_spark.streaming.pipeline import approval_event_schema

    return spark.createDataFrame([tuple(e[f.name] for f in approval_event_schema().fields)
                                  for e in events], approval_event_schema())


class TestApprovalPipeline:
    def test_insert_upsert_delete_flow(self, spark, pipeline, tmp_store):
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(
            spark, ("people.csv", "e1", "b", "insert"),
            ("people_v2.csv", "e2", "b", "update"),
            ("people_del.csv", "e3", "b", "delete"),
        ))
        # EP3: approve insert
        pipeline.run_batch(batch(spark, ev("e1", "approve", "people.csv", "people", "insert")))
        assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
            ("1", "ann"), ("2", "bob")]
        # approve upsert
        pipeline.run_batch(batch(spark, ev("e2", "approve", "people_v2.csv", "people", "update")))
        assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
            ("1", "ann"), ("2", "BOB"), ("3", "cyd")]
        # approve delete -> queued, table unchanged (two-phase, ST4)
        pipeline.run_batch(batch(spark, ev("e3", "approve", "people_del.csv", "people", "delete")))
        assert tmp_store.read("people").count() == 3
        assert led.delete_control().filter(~F.col("executed_flag")).count() == 1
        # EP4 drain executes the delete
        assert pipeline.drain_deletes() == 1
        assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
            ("2", "BOB"), ("3", "cyd")]
        # ledger statuses all approved + processed
        statuses = {r["event_id"]: r["status"] for r in led.processed_files().collect()}
        assert statuses == {"e1": "approved", "e2": "approved", "e3": "approved"}
        assert len(pipeline.notifier.sent) == 3

    def test_batch_cap_bounds_driver_collect(self, spark, pipeline, tmp_store):
        """r10 verdict ask #5: the staging collect is policy-bounded.
        A micro-batch past ``max_events_per_batch`` raises (before
        materializing on the driver — the collect is limit(cap+1));
        at the cap it processes normally; the knob is a config field."""
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(
            spark, ("people.csv", "e1", "b", "insert"),
            ("people.csv", "e2", "b", "insert"),
            ("people.csv", "e3", "b", "insert"),
        ))
        pipeline.max_events_per_batch = 2
        events = [ev(f"e{i}", "approve", "people.csv", "people", "insert")
                  for i in (1, 2, 3)]
        with pytest.raises(ValueError, match="max_events_per_batch"):
            pipeline.run_batch(batch(spark, *events))
        # at-cap batch flows through untouched
        pipeline.run_batch(batch(spark, *events[:2]))
        assert tmp_store.read("people").count() == 2

    def test_reject_and_replay(self, spark, pipeline, tmp_store):
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(spark, ("people.csv", "e1", "b", "insert")))
        pipeline.run_batch(batch(spark, ev("e1", "reject", "people.csv", "people", "insert")))
        assert not tmp_store.exists("people")  # nothing ingested
        assert led.processed_files().collect()[0]["status"] == "rejected"
        # replay of the same event_id is a no-op (ST1 exactly-once)
        pipeline.run_batch(batch(spark, ev("e1", "approve", "people.csv", "people", "insert")))
        assert not tmp_store.exists("people")
        assert led.processed_files().collect()[0]["status"] == "rejected"

    def test_poison_event_dead_letter(self, spark, pipeline):
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(spark, ("missing.csv", "e9", "b", "insert")))
        pipeline.run_batch(batch(spark, ev("e9", "approve", "missing.csv", "people", "insert")))
        # ST3: failure recorded, not raised; status=failed + notification
        assert led.processed_files().collect()[0]["status"] == "failed"
        assert "failure" in pipeline.notifier.sent[-1][0].lower()
        dl = pipeline.store.read("dead_letters").collect()
        assert len(dl) == 1 and dl[0]["event_id"] == "e9"
        assert dl[0]["error"]

    def test_delete_without_pk_fails(self, spark, pipeline, tmp_store):
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(spark, ("people_del.csv", "e4", "b", "delete")))
        pipeline.keys = {}
        pipeline.run_batch(batch(spark, ev("e4", "approve", "people_del.csv", "people", "delete")))
        assert led.processed_files().collect()[0]["status"] == "failed"
        dl = pipeline.store.read("dead_letters").collect()
        assert len(dl) == 1 and "no primary key" in dl[0]["error"]


class TestLedgerParityAcrossStores:
    """The keyed ledger (the default BucketedTableStore, with
    processed_files bucketed by event_id) and the overwrite ledger (a
    plain TableStore) end one mixed sequence in the same state."""

    def _run(self, spark, pipe):
        led = pipe.ledger
        led.record_arrivals(make_arrivals(
            spark, ("people.csv", "e1", "b", "insert"),
            ("people_v2.csv", "e2", "b", "update"),
            ("people_del.csv", "e3", "b", "delete"),
            ("people_v2.csv", "e4", "b", "update"),
            ("missing.csv", "e5", "b", "insert"),
            # delivered twice in one batch: one ledger row, version 1
            ("people_add.csv", "e9", "b", "insert"),
            ("people_add.csv", "e9", "b", "insert"),
            # delivered twice with different operations: the first wins
            ("other.csv", "e12", "b", "insert"),
            ("other.csv", "e12", "b", "delete"),
        ))
        e9 = led.processed_files().filter(F.col("event_id") == "e9")
        assert [r["file_version"] for r in e9.collect()] == [1]
        e12 = led.processed_files().filter(F.col("event_id") == "e12")
        assert [(r["file_version"], r["operation"]) for r in e12.collect()] == [(1, "insert")]
        pipe.run_batch(batch(
            spark,
            ev("e9", "approve", "people_add.csv", "people", "insert"),
            ev("e9", "approve", "people_add.csv", "people", "insert"),
            ev("e1", "approve", "people.csv", "people", "insert"),
            ev("e2", "approve", "people_v2.csv", "people", "update"),
            ev("e3", "approve", "people_del.csv", "people", "delete"),
            ev("e4", "reject", "people_v2.csv", "people", "update"),
            ev("e5", "approve", "missing.csv", "people", "insert"),
        ), 0)
        # redelivery of e2 (arrival and approval), and two more arrivals
        # of people.csv (version 1 = e1): versions continue in event_id
        # order, not delivery order
        led.record_arrivals(make_arrivals(
            spark, ("people_v2.csv", "e2", "b", "update"),
            ("people.csv", "e6", "b", "update"),
            ("people.csv", "e10", "b", "update"),
        ))
        people = led.processed_files().filter(F.col("file_name") == "people.csv")
        assert sorted((r["event_id"], r["file_version"]) for r in people.collect()) == [
            ("e1", 1), ("e10", 2), ("e6", 3)]
        pipe.run_batch(batch(
            spark,
            ev("e2", "approve", "people_v2.csv", "people", "update"),
            ev("e6", "approve", "people.csv", "people", "update"),
        ), 1)
        assert pipe.drain_deletes() == 1
        return pipe

    @staticmethod
    def _state(pipe):
        from etl_notifier_pipeline_spark.ledger import (
            DELETE_CONTROL_SCHEMA,
            PROCESSED_FILES_SCHEMA,
        )

        def rows(table, cols):
            return sorted(tuple(r) for r in pipe.store.read(table).select(*cols).collect())

        dc = [f.name for f in DELETE_CONTROL_SCHEMA.fields if f.name != "executed_timestamp"]
        return {
            "processed_files": rows("processed_files", [f.name for f in PROCESSED_FILES_SCHEMA.fields]),
            "delete_control": rows("delete_control", dc),
            "dead_letters": rows("dead_letters", pipe.store.read("dead_letters").columns),
            "people": rows("people", ["pid", "name"]),
        }

    def test_keyed_and_overwrite_ledgers_agree(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.storage import BucketedTableStore, TableStore

        csv_root = tmp_path / "csv"
        csv_root.mkdir()
        (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
        (csv_root / "people_v2.csv").write_text("pid,name\n2,BOB\n3,cyd\n")
        (csv_root / "people_del.csv").write_text("pid,name\n1,ann\n")
        (csv_root / "people_add.csv").write_text("pid,name\n4,dee\n")

        def pipe(**store):
            return ApprovalPipeline(
                spark=spark, notifier=LogNotifier(), keys={"people": ["pid"]},
                csv_root=str(csv_root), **store,
            )

        plain = self._run(spark, pipe(store=TableStore(spark, str(tmp_path / "plain"))))
        keyed = self._run(spark, pipe(store_root=str(tmp_path / "keyed")))
        assert isinstance(keyed.store, BucketedTableStore)
        want = self._state(plain)
        assert self._state(keyed) == want
        assert {r[1]: r[6] for r in want["processed_files"]} == {
            "e1": "approved", "e2": "approved", "e3": "approved",
            "e4": "rejected", "e5": "failed", "e6": "approved",
            "e9": "approved", "e10": "pending", "e12": "pending",
        }
        assert [r[2] for r in want["processed_files"] if r[1] == "e9"] == [1]
        assert want["people"] == [("2", "bob"), ("3", "cyd"), ("4", "dee")]
        for p in (plain, keyed):
            assert len(p.notifier.sent) == 7
            assert sum("(Event ID: e9)" in body for _, body in p.notifier.sent) == 1

        # A mark_many rewrites only the buckets its event ids hash into.
        ids = ["e7", "e8"]
        for p in (plain, keyed):
            p.ledger.record_arrivals(make_arrivals(
                spark, *[("people.csv", e, "b", "insert") for e in ids]
            ))
        store = keyed.store
        before = store._manifest("processed_files", store.current_version("processed_files"))
        outcomes = spark.createDataFrame(
            [(e, "rejected", True, "2026-01-02T00:00:00Z") for e in ids],
            "event_id string, status string, is_processed boolean, approval_timestamp string",
        )
        for p in (plain, keyed):
            p.ledger.mark_many(outcomes)
        after = store._manifest("processed_files", store.current_version("processed_files"))
        changed = {
            int(k) for k in set(before["buckets"]) | set(after["buckets"])
            if before["buckets"].get(k) != after["buckets"].get(k)
        }
        hashed = {
            r["b"] for r in outcomes.select(
                F.pmod(F.xxhash64("event_id"), F.lit(store.n_buckets)).alias("b")
            ).collect()
        }
        assert changed == hashed
        assert self._state(keyed) == self._state(plain)


class TestControlPlaneJobBudget:
    """An approval batch's control plane — ``filter_unprocessed``,
    ``mark_many`` and the notification render — launches jobs only for
    the ledger's keyed reads and its one commit: the events, outcomes
    and key sets it handles are local frames. The budget is the count
    measured with local frames; the data plane (CSV staging, table
    mutations, the dead-letter append) is counted apart."""

    # filter_unprocessed's keyed read, mark_many's keyed read and its
    # update commit (four jobs); the plain store adds a schema-inference
    # job to each of its three reads.
    BUDGET = {"table_store": 9, "bucketed": 6}
    # run_batch plus drain_deletes on the bucketed store launched 41
    # jobs when this budget was set; work that cuts jobs lowers it.
    BATCH_BUDGET = 41

    @staticmethod
    def _batch(spark, tmp_path, backend):
        """A pipeline whose ledger holds five arrivals, and the local
        frame that approves, rejects or fails them."""
        from etl_notifier_pipeline_spark.storage import TableStore, local_frame
        from etl_notifier_pipeline_spark.streaming.pipeline import approval_event_schema

        csv_root = tmp_path / "csv"
        csv_root.mkdir()
        (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
        (csv_root / "people_v2.csv").write_text("pid,name\n2,BOB\n3,cyd\n")
        (csv_root / "people_del.csv").write_text("pid,name\n1,ann\n")
        root = str(tmp_path / backend)
        pipe = ApprovalPipeline(
            spark=spark, notifier=LogNotifier(), keys={"people": ["pid"]},
            csv_root=str(csv_root),
            **({"store": TableStore(spark, root)} if backend == "table_store"
               else {"store_root": root}),
        )
        events = [
            ev("e1", "approve", "people.csv", "people", "insert"),
            ev("e2", "approve", "people_v2.csv", "people", "update"),
            ev("e3", "approve", "people_del.csv", "people", "delete"),
            ev("e4", "reject", "people_v2.csv", "people", "update"),
            ev("e5", "approve", "missing.csv", "people", "insert"),
        ]
        pipe.ledger.record_arrivals(make_arrivals(
            spark, *[(e["file_name"], e["event_id"], "b", e["operation"]) for e in events]
        ))
        schema = approval_event_schema()
        approvals = local_frame(
            spark, [tuple(e[f] for f in schema.names) for e in events], schema
        )
        return pipe, approvals

    @pytest.mark.parametrize("backend", ["table_store", "bucketed"])
    def test_control_plane_job_budget(self, spark, tmp_path, backend, monkeypatch):
        from etl_notifier_pipeline_spark.metrics import measured

        pipe, approvals = self._batch(spark, tmp_path, backend)
        data_jobs = []

        def in_data(fn):
            def run(*args, **kwargs):
                with measured(spark, f"budget-data-{backend}") as m:
                    out = fn(*args, **kwargs)
                data_jobs.append(m["jobs"])
                return out
            return run

        for name in ("_stage_event", "_apply_run"):
            monkeypatch.setattr(pipe, name, in_data(getattr(pipe, name)))
        monkeypatch.setattr(pipe.store, "append", in_data(pipe.store.append))
        with measured(spark, f"budget-control-{backend}") as control:
            pipe.run_batch(approvals, 0)

        assert len(pipe.notifier.sent) == 5
        assert sum(data_jobs) > 0, "the job counter sees no data-plane jobs"
        assert control["jobs"] <= self.BUDGET[backend]

    def test_whole_batch_job_budget(self, spark, tmp_path):
        """The whole batch — control plane, data plane and the delete
        drain — stays within the job count it had when first measured."""
        from etl_notifier_pipeline_spark.metrics import measured

        pipe, approvals = self._batch(spark, tmp_path, "bucketed")
        with measured(spark, "budget-batch") as m:
            pipe.run_batch(approvals, 0)
            assert pipe.drain_deletes() == 1
        assert len(pipe.notifier.sent) == 5
        assert m["jobs"] <= self.BATCH_BUDGET
