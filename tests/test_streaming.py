"""Streaming-machinery tests (SURVEY §2.9): live dropDuplicates under a
watermark, the end-to-end streaming approval flow via foreachBatch, and
storage atomicity guarantees under the streaming writer."""

from __future__ import annotations

import base64
import json

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.streaming import ApprovalPipeline, LogNotifier
from etl_notifier_pipeline_spark.streaming.windows import (
    run_stream_to_table,
    stream_events,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_matches_batch_tumbling(spark):
    """The real StreamExecution result equals the batch plan result —
    event-time semantics independent of execution mode."""
    from etl_notifier_pipeline_spark.catalog import load_table

    streamed = run_stream_to_table(
        tumbling_counts(stream_events(spark, SF_DIR)), spark, "t_stream_batch_eq"
    )
    batch = tumbling_counts(load_table(spark, SF_DIR, "events"))
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_events_reads_directory_fixture(spark, tmp_path):
    """Amplified fixtures (tools/scale_up.py) store each table as a
    Spark-written parquet DIRECTORY; stream_events must stream it
    directly instead of symlink-nesting it one level deep where the
    file source finds zero files (r5 sf10 lesson: st05 'completed' in
    0.2s on an empty stream)."""
    from etl_notifier_pipeline_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").limit(500)
    sf_dir = str(tmp_path / "sfdir")
    ev.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    streamed = run_stream_to_table(
        tumbling_counts(stream_events(spark, sf_dir)),
        spark,
        "t_stream_dir_fixture",
    )
    batch = tumbling_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_streaming_drop_duplicates_watermark(spark, tmp_path):
    """ST1 at scale: dropDuplicates on the stream with a watermark —
    duplicate event_ids across micro-batches are delivered once."""
    src = tmp_path / "dupes"
    src.mkdir()
    rows1 = [{"event_id": i, "ts": f"2024-01-01 00:{i:02d}:00"} for i in range(5)]
    rows2 = [{"event_id": i, "ts": f"2024-01-01 00:{i:02d}:00"} for i in range(3, 8)]
    (src / "a.json").write_text("\n".join(map(json.dumps, rows1)))
    (src / "b.json").write_text("\n".join(map(json.dumps, rows2)))
    stream = (
        spark.readStream.schema("event_id long, ts string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table("t_dedup_stream").collect())
    assert got == list(range(8))  # 3..4 delivered once, not twice


def test_streaming_approval_pipeline_end_to_end(spark, tmp_store, tmp_path):
    """EP2->EP3 over a real stream: base64-JSON payloads (the Pub/Sub
    transport encoding) consumed by foreachBatch, effects in the store."""
    csv_root = tmp_path / "bucket"
    csv_root.mkdir()
    (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
    pipe = ApprovalPipeline(
        spark=spark, store=tmp_store, notifier=LogNotifier(),
        keys={"people": ["pid"]}, csv_root=str(csv_root),
    )
    pipe.ledger.record_arrivals(
        spark.createDataFrame(
            [("people.csv", "s1", "b", "insert")],
            ["file_name", "event_id", "bucket", "operation"],
        )
    )
    payload = {
        "event_id": "s1", "action": "approve", "file_name": "people.csv",
        "table_name": "people", "operation": "insert", "bucket": "b",
        "file_version": "1", "provided_timestamp": None,
        "approval_timestamp": "2026-01-01T00:00:00Z", "remote_address": "1.2.3.4",
    }
    msg = base64.b64encode(json.dumps(payload).encode()).decode()
    src = tmp_path / "msgs"
    src.mkdir()
    (src / "m1.json").write_text(json.dumps({"value": msg}))
    raw = spark.readStream.schema("value string").json(str(src))
    q = pipe.start(raw, str(tmp_path / "ckpt2"))
    q.awaitTermination()
    assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
        ("1", "ann"), ("2", "bob")]
    assert pipe.ledger.processed_files().collect()[0]["status"] == "approved"


def test_store_atomic_swap_versions(spark, tmp_store):
    df1 = spark.createDataFrame([(1,)], ["x"])
    df2 = spark.createDataFrame([(2,)], ["x"])
    assert tmp_store.overwrite("t", df1) == 1
    p1 = tmp_store.path("t")
    assert tmp_store.overwrite("t", df2) == 2
    assert tmp_store.path("t") != p1
    assert [r["x"] for r in tmp_store.read("t").collect()] == [2]
    # append builds a new version too
    tmp_store.append("t", df1)
    assert sorted(r["x"] for r in tmp_store.read("t").collect()) == [1, 2]


def test_store_time_travel(spark, tmp_store):
    """read(version=) resolves any un-vacuumed version through its own
    manifest — the VERSION AS OF twin."""
    v1 = tmp_store.overwrite("t", spark.createDataFrame([(1,)], ["x"]))
    v2 = tmp_store.append("t", spark.createDataFrame([(2,)], ["x"]))
    assert [r["x"] for r in tmp_store.read("t", version=v1).collect()] == [1]
    assert sorted(r["x"] for r in tmp_store.read("t", version=v2).collect()) == [1, 2]
    import pytest

    with pytest.raises(FileNotFoundError, match="no version 99"):
        tmp_store.read("t", version=99)


def test_pipeline_restart_from_checkpoint_exactly_once(spark, tmp_store, tmp_path):
    """ST2 across a RESTART: a second query on the same checkpoint must
    not reprocess messages the first run consumed, and a replayed
    (duplicate) event id arriving after restart is dropped by the
    ledger — the table's effect applies exactly once end-to-end."""
    csv_root = tmp_path / "bucket"
    csv_root.mkdir()
    (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
    (csv_root / "people_v2.csv").write_text("pid,name\n2,BOB\n3,cyd\n")
    pipe = ApprovalPipeline(
        spark=spark, store=tmp_store, notifier=LogNotifier(),
        keys={"people": ["pid"]}, csv_root=str(csv_root),
    )
    pipe.ledger.record_arrivals(
        spark.createDataFrame(
            [("people.csv", "e1", "b", "insert"),
             ("people_v2.csv", "e2", "b", "update")],
            ["file_name", "event_id", "bucket", "operation"],
        )
    )

    def msg(event_id, file_name, operation):
        payload = {
            "event_id": event_id, "action": "approve", "file_name": file_name,
            "table_name": "people", "operation": operation, "bucket": "b",
            "file_version": "1", "provided_timestamp": None,
            "approval_timestamp": "2026-01-01T00:00:00Z",
            "remote_address": "1.2.3.4",
        }
        return json.dumps(
            {"value": base64.b64encode(json.dumps(payload).encode()).decode()}
        )

    src = tmp_path / "msgs"
    src.mkdir()
    (src / "m1.json").write_text(msg("e1", "people.csv", "insert"))
    raw = spark.readStream.schema("value string").json(str(src))
    pipe.start(raw, str(tmp_path / "ckpt")).awaitTermination()
    v_after_first = tmp_store.current_version("people")

    # restart: new file with e2 AND a replay of e1
    (src / "m2.json").write_text(msg("e2", "people_v2.csv", "update"))
    (src / "m3.json").write_text(msg("e1", "people.csv", "insert"))
    raw2 = spark.readStream.schema("value string").json(str(src))
    pipe.start(raw2, str(tmp_path / "ckpt")).awaitTermination()

    rows = sorted(tuple(r) for r in tmp_store.read("people").collect())
    assert rows == [("1", "ann"), ("2", "BOB"), ("3", "cyd")]
    statuses = {
        r["event_id"]: r["status"]
        for r in pipe.ledger.processed_files().collect()
    }
    assert statuses == {"e1": "approved", "e2": "approved"}
    # the replayed e1 must not have re-applied the insert: version grew
    # only by e2's single mutation
    assert tmp_store.current_version("people") == v_after_first + 1


def test_chained_window_aggregation_live_stream(spark, tmp_path):
    """Spark-3.4 multiple-stateful-operator support: ONE streaming
    query with two chained windowed aggregations (15m -> 1h via
    window(window_time(...))) in append mode under a watermark. A
    far-future sentinel event advances the final watermark so every
    real window finalizes; the emitted rows must equal the batch twin
    (cascaded_rollup) over the real events."""
    from etl_notifier_pipeline_spark.streaming.windows import cascaded_rollup

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"ts": f"2024-01-01 {h:02d}:{m:02d}:00", "event_type": t, "value": v}
        for h, m, t, v in [
            (0, 1, "a", 10.0), (0, 16, "a", 5.0), (0, 44, "b", 2.5),
            (1, 2, "a", 1.0), (1, 59, "b", 7.0), (3, 30, "a", 4.0),
        ]
    ]
    sentinel = {"ts": "2030-01-01 00:00:00", "event_type": "zz", "value": 0.0}
    (src / "a.json").write_text("\n".join(map(json.dumps, rows)))
    (src / "b.json").write_text(json.dumps(sentinel))
    stream = (
        spark.readStream.schema("ts string, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "0 seconds")
    )
    q = (
        cascaded_rollup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_cascade_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.table("t_cascade_stream")
            .filter(F.col("event_type") != "zz").collect())
    )
    batch_events = spark.createDataFrame(
        [(r["ts"], r["event_type"], r["value"]) for r in rows],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = sorted(map(tuple, cascaded_rollup(batch_events).collect()))
    assert got == want
    # cascade observable: hour 0 of 'a' spans two distinct 15m buckets
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[("2024-01-01 00:00:00", "a")][4] == 2


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Spark 3.5+ dropDuplicatesWithinWatermark: duplicate event ids
    arriving within the watermark window dedup even when their
    TIMESTAMPS differ (the at-least-once-transport case plain
    dropDuplicates on (id, ts) misses); ids recurring after the state
    horizon are legitimately re-emitted."""
    import json

    src = tmp_path / "ev"
    src.mkdir()
    # batch 1: id 1 twice with different ts (transport retry), id 2
    (src / "a.json").write_text("\n".join(map(json.dumps, [
        {"event_id": 1, "ts": "2024-01-01 00:00:00"},
        {"event_id": 1, "ts": "2024-01-01 00:00:03"},
        {"event_id": 2, "ts": "2024-01-01 00:00:05"},
    ])))
    # run 2 (same checkpoint): a watermark-advancing event that evicts
    # id 1's state (watermark persists across restarts), then run 3:
    # id 1 far beyond the 10s horizon -> legitimately re-emitted
    def drain():
        stream = (
            spark.readStream.schema("event_id long, ts string")
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
            .withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()

    drain()
    (src / "b.json").write_text(json.dumps(
        {"event_id": 99, "ts": "2024-01-01 00:30:00"}))
    drain()
    (src / "c.json").write_text(json.dumps(
        {"event_id": 1, "ts": "2024-01-01 01:00:00"}))
    drain()
    got = sorted(
        (r["event_id"], str(r["ts"]))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # id 1's retry within the window dropped; its hour-later recurrence
    # (after state eviction) re-emitted
    assert [g[0] for g in got] == [1, 1, 2, 99]
    assert got[0][1].startswith("2024-01-01 00:00:00")
    assert got[1][1].startswith("2024-01-01 01:00:00")


def test_exactly_once_failure_injection_store_write_then_crash(
    spark, tmp_store, tmp_path,
):
    """ST2 under the WORST torn-batch window: the foreachBatch body
    dies AFTER the store write but BEFORE the ledger update. Structured
    Streaming then fails the batch (the checkpoint offset never
    commits) and redelivers it on restart — at-least-once delivery of
    an already-half-applied batch. Exactly-once must come from the
    effects being idempotent: the redelivered insert/upsert re-applies
    against the already-mutated table and converges to the SAME state a
    clean single delivery produces (the reference gets this window for
    free from one Postgres transaction spanning both writes,
    process-pipeline.py:124-127; the engine must earn it)."""
    csv_root = tmp_path / "bucket"
    csv_root.mkdir()
    (csv_root / "people.csv").write_text("pid,name\n1,ann\n2,bob\n")
    (csv_root / "people_v2.csv").write_text("pid,name\n2,BOB\n3,cyd\n")
    pipe = ApprovalPipeline(
        spark=spark, store=tmp_store, notifier=LogNotifier(),
        keys={"people": ["pid"]}, csv_root=str(csv_root),
    )
    pipe.ledger.record_arrivals(
        spark.createDataFrame(
            [("people.csv", "e1", "b", "insert"),
             ("people_v2.csv", "e2", "b", "update")],
            ["file_name", "event_id", "bucket", "operation"],
        )
    )

    def msg(event_id, file_name, operation):
        payload = {
            "event_id": event_id, "action": "approve", "file_name": file_name,
            "table_name": "people", "operation": operation, "bucket": "b",
            "file_version": "1", "provided_timestamp": None,
            "approval_timestamp": "2026-01-01T00:00:00Z",
            "remote_address": "1.2.3.4",
        }
        return json.dumps(
            {"value": base64.b64encode(json.dumps(payload).encode()).decode()}
        )

    src = tmp_path / "msgs"
    src.mkdir()
    (src / "m1.json").write_text(msg("e1", "people.csv", "insert"))
    (src / "m2.json").write_text(msg("e2", "people_v2.csv", "update"))

    # inject: ledger.mark_many dies — AFTER stage 2 applied the store
    # mutations, BEFORE any event is marked processed
    real_mark_many = pipe.ledger.mark_many

    def dying_mark_many(df):
        raise RuntimeError("injected crash between store write and ledger update")

    pipe.ledger.mark_many = dying_mark_many
    raw = spark.readStream.schema("value string").json(str(src))
    q = pipe.start(raw, str(tmp_path / "ckpt"))
    try:
        q.awaitTermination()
        raise AssertionError("stream should have failed on the injected crash")
    except Exception as exc:  # StreamingQueryException wrapping the injection
        assert "injected crash" in str(exc)

    # torn state is exactly as designed: effects applied, ledger silent
    assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
        ("1", "ann"), ("2", "BOB"), ("3", "cyd")]
    assert pipe.ledger.processed_files().filter(F.col("is_processed")).count() == 0

    # "restart": redeliver the SAME batch via the same checkpoint
    pipe.ledger.mark_many = real_mark_many
    raw2 = spark.readStream.schema("value string").json(str(src))
    pipe.start(raw2, str(tmp_path / "ckpt")).awaitTermination()

    # no duplicate effects: state identical to a clean single delivery
    assert sorted(tuple(r) for r in tmp_store.read("people").collect()) == [
        ("1", "ann"), ("2", "BOB"), ("3", "cyd")]
    statuses = {
        r["event_id"]: r["status"]
        for r in pipe.ledger.processed_files().collect()
    }
    assert statuses == {"e1": "approved", "e2": "approved"}
    # and a THIRD run on the same checkpoint is a no-op (offsets committed)
    v = tmp_store.current_version("people")
    raw3 = spark.readStream.schema("value string").json(str(src))
    pipe.start(raw3, str(tmp_path / "ckpt")).awaitTermination()
    assert tmp_store.current_version("people") == v


def test_st14_fold_torn_at_every_commit_point_converges(spark, tmp_path):
    """The st14 fold makes three non-atomic commits (verdicts, corpus,
    txn). Inject a crash after EACH prefix of commits during batch 1,
    replay, finish batch 2, and require the end state to equal the
    crash-free run bit-for-bit — the r5 ADVICE window (torn fold
    replayed re-unions verdicts / self-matches the corpus) stays
    closed at every crash point, not only between folds."""
    import pytest

    from etl_notifier_pipeline_spark.catalog import load_table
    from etl_notifier_pipeline_spark.plans.streaming_queries import (
        incremental_dedup_fold,
    )
    from etl_notifier_pipeline_spark.storage import TableStore

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    batches = [
        docs.filter(F.col("doc_id") % 3 == k).localCheckpoint()
        for k in range(3)
    ]

    def run(crash_after: int | None) -> tuple[set, set]:
        """crash_after = number of commits batch 1's first attempt
        completes before dying (None = clean run)."""
        root = tmp_path / f"store_{crash_after}"
        store = TableStore(spark, str(root))
        incremental_dedup_fold(store, batches[0], 0, threshold=0.5)
        if crash_after is not None:
            real = store.overwrite
            calls = {"n": 0}

            def torn(table, df):
                if calls["n"] >= crash_after:
                    raise RuntimeError("injected crash")
                calls["n"] += 1
                return real(table, df)

            store.overwrite = torn
            with pytest.raises(RuntimeError, match="injected crash"):
                incremental_dedup_fold(store, batches[1], 1, threshold=0.5)
            store.overwrite = real
            # foreachBatch redelivers the failed batch on restart
            incremental_dedup_fold(store, batches[1], 1, threshold=0.5)
        else:
            incremental_dedup_fold(store, batches[1], 1, threshold=0.5)
        incremental_dedup_fold(store, batches[2], 2, threshold=0.5)
        verdicts = {
            tuple(r) for r in store.read("verdicts").drop("__batch_id").collect()
        }
        corpus = {
            (r["doc_id"], r["__batch_id"])
            for r in store.read("corpus").select("doc_id", "__batch_id").collect()
        }
        return verdicts, corpus

    clean = run(None)
    for crash_after in (0, 1, 2):  # before any / after verdicts / after corpus
        assert run(crash_after) == clean, f"diverged at crash point {crash_after}"


def test_st14_streaming_dedup_arrival_order_semantics(spark):
    """st14 invariants: one verdict per document; batch-0 docs (no
    earlier corpus) are all novel; every match points STRICTLY
    backwards in arrival order with jaccard >= the gate threshold."""
    from etl_notifier_pipeline_spark.plans import get as get_spec
    from etl_notifier_pipeline_spark.plans.streaming_queries import (
        ST14_N_BATCHES,
        ST14_THRESHOLD,
    )

    sf = "/root/testdata/sf0.001"
    rows = get_spec("st14_streaming_incremental_dedup").fn(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        if r["doc_id"] % ST14_N_BATCHES == 0:
            assert r["is_novel"] and r["n_matches"] == 0
        if not r["is_novel"]:
            assert r["best_jaccard"] >= ST14_THRESHOLD
            assert (
                r["best_match_id"] % ST14_N_BATCHES
                < r["doc_id"] % ST14_N_BATCHES
            )


def test_st17_tombstone_read_lists_batch_dirs_without_jobs(spark, tmp_path):
    """st17 reads its fold's ``b<batch_id>`` directories by name with the
    stream's schema: building the read launches no Spark job, and it
    returns every batch's rows and nothing else under the root."""
    from pyspark.sql import types as T

    from etl_notifier_pipeline_spark.metrics import measured
    from etl_notifier_pipeline_spark.plans.streaming_queries import read_batch_dirs

    schema = T.StructType([T.StructField("vec_id", T.LongType())])
    root = tmp_path / "tombs"
    for b, ids in ((0, [1, 8]), (2, [3])):
        spark.createDataFrame([(i,) for i in ids], schema).write.parquet(str(root / f"b{b}"))
    (root / "_checkpoint").mkdir()
    with measured(spark, "st17-tombs") as m:
        tombs = read_batch_dirs(spark, str(root), schema)
    assert m["jobs"] == 0
    assert tombs.schema == schema
    assert sorted(r["vec_id"] for r in tombs.collect()) == [1, 3, 8]
