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
        assert len(pipeline.dead_letters) == 1
        assert led.processed_files().collect()[0]["status"] == "failed"
        assert "failure" in pipeline.notifier.sent[-1][0].lower()
        # the dead letter is durable, not just in-memory
        dl = pipeline.store.read("dead_letters").collect()
        assert len(dl) == 1 and dl[0]["event_id"] == "e9"
        assert dl[0]["error"]

    def test_delete_without_pk_fails(self, spark, pipeline, tmp_store):
        led = pipeline.ledger
        led.record_arrivals(make_arrivals(spark, ("people_del.csv", "e4", "b", "delete")))
        pipeline.keys = {}
        pipeline.run_batch(batch(spark, ev("e4", "approve", "people_del.csv", "people", "delete")))
        assert led.processed_files().collect()[0]["status"] == "failed"
        assert "no primary key" in pipeline.dead_letters[-1]["error"]


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
        ))
        pipe.run_batch(batch(
            spark,
            ev("e1", "approve", "people.csv", "people", "insert"),
            ev("e2", "approve", "people_v2.csv", "people", "update"),
            ev("e3", "approve", "people_del.csv", "people", "delete"),
            ev("e4", "reject", "people_v2.csv", "people", "update"),
            ev("e5", "approve", "missing.csv", "people", "insert"),
        ), 0)
        # redelivery of e2 (arrival and approval), and a second arrival
        # of people.csv under a new event
        led.record_arrivals(make_arrivals(
            spark, ("people_v2.csv", "e2", "b", "update"),
            ("people.csv", "e6", "b", "update"),
        ))
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

        def pipe(**store):
            return ApprovalPipeline(
                spark=spark, notifier=LogNotifier(), keys={"people": ["pid"]},
                csv_root=str(csv_root), **store,
            )

        plain = self._run(spark, pipe(store=TableStore(spark, str(tmp_path / "plain"))))
        keyed = self._run(spark, pipe(store_root=str(tmp_path / "keyed")))
        assert isinstance(keyed.store, BucketedTableStore)
        assert keyed.ledger._keyed() and not plain.ledger._keyed()
        want = self._state(plain)
        assert self._state(keyed) == want
        assert {r[1]: r[6] for r in want["processed_files"]} == {
            "e1": "approved", "e2": "approved", "e3": "approved",
            "e4": "rejected", "e5": "failed", "e6": "approved",
        }
        assert want["people"] == [("2", "bob"), ("3", "cyd")]
        assert len(plain.notifier.sent) == len(keyed.notifier.sent) == 6

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
