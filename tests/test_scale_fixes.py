"""Round-2 scale + semantics regressions (VERDICT r01 "What's wrong"
and ADVICE items): O(N)-byte appends, O(1) ledger rewrites per
micro-batch, distributed delete-id assignment, positional conflict
resolution, as-of NULL/tie handling, salted-join contract, JVM-side
notification templating, LSH parameterization."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.ledger import Ledger
from etl_notifier_pipeline_spark.operators.asof import asof_join
from etl_notifier_pipeline_spark.operators.skew import salted_join
from etl_notifier_pipeline_spark.streaming import ApprovalPipeline, LogNotifier
from etl_notifier_pipeline_spark.streaming.pipeline import (
    OUTCOME_SCHEMA,
    render_result_notifications,
)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class TestFileLevelAppend:
    def test_append_writes_only_new_bytes(self, spark, tmp_store):
        big = spark.range(20000).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
        )
        tmp_store.overwrite("t", big)
        small = spark.range(20000, 20010).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
        )
        tmp_store.append("t", small)
        root = os.path.dirname(tmp_store.path("t"))
        v1, v2 = os.path.join(root, "v=1"), os.path.join(root, "v=2")
        # the append version dir holds only the 10 new rows' files
        assert _dir_bytes(v2) < _dir_bytes(v1) / 10
        assert tmp_store.read("t").count() == 20010
        # chained appends keep referencing prior files, never rewriting
        tmp_store.append("t", small.withColumn("id", F.col("id") + 100))
        assert tmp_store.read("t").count() == 20020
        assert _dir_bytes(os.path.join(root, "v=3")) < _dir_bytes(v1) / 10

    def test_append_then_overwrite_compacts(self, spark, tmp_store):
        tmp_store.overwrite("t", spark.createDataFrame([(1,)], ["x"]))
        tmp_store.append("t", spark.createDataFrame([(2,)], ["x"]))
        tmp_store.overwrite("t", spark.createDataFrame([(9,)], ["x"]))
        assert [r["x"] for r in tmp_store.read("t").collect()] == [9]


class TestBatchedLedgerMarks:
    def test_one_ledger_rewrite_per_micro_batch(self, spark, tmp_store, tmp_path):
        """A 3-event micro-batch must advance the processed_files
        version by exactly 1 (mark_many), not once per event."""
        csv_root = tmp_path / "bucket"
        csv_root.mkdir()
        for i in (1, 2, 3):
            (csv_root / f"f{i}.csv").write_text(f"pid,name\n{i},p{i}\n")
        pipe = ApprovalPipeline(
            spark=spark, store=tmp_store, notifier=LogNotifier(),
            keys={"people": ["pid"]}, csv_root=str(csv_root),
        )
        led = pipe.ledger
        led.record_arrivals(spark.createDataFrame(
            [(f"f{i}.csv", f"e{i}", "b", "insert") for i in (1, 2, 3)],
            ["file_name", "event_id", "bucket", "operation"],
        ))
        v_before = tmp_store.current_version("processed_files")
        from tests.test_ledger_pipeline import batch, ev

        pipe.run_batch(batch(
            spark,
            ev("e1", "approve", "f1.csv", "people", "insert"),
            ev("e2", "approve", "f2.csv", "people", "insert"),
            ev("e3", "reject", "f3.csv", "people", "insert"),
        ))
        assert tmp_store.current_version("processed_files") == v_before + 1
        statuses = {r["event_id"]: r["status"] for r in led.processed_files().collect()}
        assert statuses == {"e1": "approved", "e2": "approved", "e3": "rejected"}
        assert len(pipe.notifier.sent) == 3

    def test_same_table_events_coalesce_to_one_overwrite(
        self, spark, tmp_store, tmp_path
    ):
        """Version growth per micro-batch is O(table op-runs), not
        O(events): interleaved inserts to two tables + a trailing
        update coalesce into one overwrite per run, with sequential
        first/last-per-key winners preserved across events in a run."""
        csv_root = tmp_path / "bucket"
        csv_root.mkdir()
        # e1/e3 insert people with a conflicting pid=1 (e1's row must
        # win: first-per-key across the run); e4 updates pid=2 twice
        # across files (later event e5... keep single update run e4+e5
        # with conflicting pid=2 — e5's row must win: last-per-key).
        (csv_root / "i1.csv").write_text("pid,name\n1,first\n2,x\n")
        (csv_root / "i2.csv").write_text("pid,name\n1,second\n3,y\n")
        (csv_root / "u1.csv").write_text("pid,name\n2,old\n")
        (csv_root / "u2.csv").write_text("pid,name\n2,new\n")
        (csv_root / "p1.csv").write_text("sku,price\nA,1\n")
        pipe = ApprovalPipeline(
            spark=spark, store=tmp_store, notifier=LogNotifier(),
            keys={"people": ["pid"], "products": ["sku"]},
            csv_root=str(csv_root),
        )
        from tests.test_ledger_pipeline import batch, ev

        pipe.ledger.record_arrivals(spark.createDataFrame(
            [("i1.csv", "e1", "b", "insert"), ("p1.csv", "ep", "b", "insert"),
             ("i2.csv", "e3", "b", "insert"), ("u1.csv", "e4", "b", "update"),
             ("u2.csv", "e5", "b", "update")],
            ["file_name", "event_id", "bucket", "operation"],
        ))
        pipe.run_batch(batch(
            spark,
            ev("e1", "approve", "i1.csv", "people", "insert"),
            ev("ep", "approve", "p1.csv", "products", "insert"),  # interleaved
            ev("e3", "approve", "i2.csv", "people", "insert"),
            ev("e4", "approve", "u1.csv", "people", "update"),
            ev("e5", "approve", "u2.csv", "people", "update"),
        ))
        # people: create + insert-run + update-run = 3 versions;
        # products: create + insert-run = 2. Five events, three writes.
        assert tmp_store.current_version("people") == 3
        assert tmp_store.current_version("products") == 2
        got = {r["pid"]: r["name"] for r in tmp_store.read("people").collect()}
        assert got == {"1": "first", "2": "new", "3": "y"}
        statuses = {
            r["event_id"]: r["status"]
            for r in pipe.ledger.processed_files().collect()
        }
        assert set(statuses.values()) == {"approved"}
        assert len(pipe.notifier.sent) == 5  # still one notification per event

    def test_mark_many_mixed_statuses(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        led.record_arrivals(spark.createDataFrame(
            [("f.csv", f"e{i}", "b", "insert") for i in range(4)],
            ["file_name", "event_id", "bucket", "operation"],
        ))
        outcomes = spark.createDataFrame(
            [("e0", "approved", True, "t0"), ("e1", "rejected", True, None),
             ("e2", "failed", True, "t2")],
            ["event_id", "status", "is_processed", "approval_timestamp"],
        )
        led.mark_many(outcomes)
        got = {r["event_id"]: (r["status"], r["is_processed"], r["approval_timestamp"])
               for r in led.processed_files().collect()}
        assert got["e0"] == ("approved", True, "t0")
        assert got["e1"] == ("rejected", True, None)
        assert got["e2"] == ("failed", True, "t2")
        assert got["e3"] == ("pending", False, None)  # untouched


class TestQueueDeleteIds:
    def test_contiguous_ids_without_global_window(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        reqs = spark.createDataFrame(
            [(f"e{i}", "t", f'{{"k":"{i}"}}') for i in range(500)],
            ["event_id", "target_table", "key_json"],
        )
        # multi-partition input: the per-partition offset logic must
        # still produce globally contiguous ids (the returned frame is
        # localCheckpoint-ed, so shape is asserted behaviorally here
        # and structurally below on an un-checkpointed replica)
        rows = led.queue_deletes(reqs.repartition(8))
        ids = sorted(r["query_id"] for r in rows.collect())
        assert ids == list(range(1, 501))  # contiguous from base+1
        # structural check on the id-assignment window: hash-partitioned
        # row_number, no global single-partition window over the batch
        import inspect

        from etl_notifier_pipeline_spark import ledger as ledger_mod

        src = inspect.getsource(ledger_mod.Ledger.queue_deletes)
        assert 'W.partitionBy("__p")' in src
        assert 'W.orderBy("target_table", "key_json", "event_id")' not in src
        # next batch continues above the previous max
        more = led.queue_deletes(spark.createDataFrame(
            [("e9", "t", '{"k":"new"}')], ["event_id", "target_table", "key_json"]))
        assert [r["query_id"] for r in more.collect()] == [501]

    def test_intra_batch_duplicate_keys_queue_once(self, spark, tmp_store):
        led = Ledger(spark, tmp_store)
        reqs = spark.createDataFrame(
            [("e2", "t", '{"k":"1"}'), ("e1", "t", '{"k":"1"}'),
             ("e3", "t", '{"k":"2"}')],
            ["event_id", "target_table", "key_json"],
        )
        rows = led.queue_deletes(reqs).collect()
        assert len(rows) == 2
        by_key = {r["key_json"]: r["event_id"] for r in rows}
        assert by_key['{"k":"1"}'] == "e1"  # earliest event_id wins


class TestPositionalConflictResolution:
    def test_insert_first_row_wins_update_last_row_wins(
        self, spark, tmp_store, tmp_path
    ):
        """Reference ON CONFLICT semantics are executemany-positional
        (ADVICE r01): within one file, first duplicate wins for insert,
        last wins for update — regardless of value order."""
        csv_root = tmp_path / "bucket"
        csv_root.mkdir()
        # value order is the REVERSE of file order in both files, so a
        # value-ordered pick would give the wrong row
        (csv_root / "ins.csv").write_text("pid,name\n1,zzz\n1,aaa\n")
        (csv_root / "upd.csv").write_text("pid,name\n1,zfirst\n1,alast\n")
        pipe = ApprovalPipeline(
            spark=spark, store=tmp_store, notifier=LogNotifier(),
            keys={"people": ["pid"]}, csv_root=str(csv_root),
        )
        led = pipe.ledger
        led.record_arrivals(spark.createDataFrame(
            [("ins.csv", "e1", "b", "insert"), ("upd.csv", "e2", "b", "update")],
            ["file_name", "event_id", "bucket", "operation"],
        ))
        from tests.test_ledger_pipeline import batch, ev

        pipe.run_batch(batch(spark, ev("e1", "approve", "ins.csv", "people", "insert")))
        assert [tuple(r) for r in tmp_store.read("people").collect()] == [("1", "zzz")]
        pipe.run_batch(batch(spark, ev("e2", "approve", "upd.csv", "people", "update")))
        assert [tuple(r) for r in tmp_store.read("people").collect()] == [("1", "alast")]


class TestAsofEdgeCases:
    def test_null_right_time_yields_null_values(self, spark):
        left = spark.createDataFrame([("k", 10)], ["key", "lt"])
        right = spark.createDataFrame(
            [("k", None, "bad")], "key string, rt int, val string"
        )
        out = asof_join(
            left, right, ["key"], "lt", "rt", right_values=["val"]
        ).collect()
        assert len(out) == 1 and out[0]["val"] is None

    def test_equal_timestamp_tie_break_deterministic(self, spark):
        left = spark.createDataFrame([("k", 10)], ["key", "lt"])
        right = spark.createDataFrame(
            [("k", 5, "b"), ("k", 5, "a")], ["key", "rt", "val"]
        )
        for _ in range(3):
            out = asof_join(
                left, right, ["key"], "lt", "rt", right_values=["val"]
            ).collect()
            assert out[0]["val"] == "a"  # smallest right-value tuple wins


class TestSaltedJoinContract:
    def test_outer_how_rejected(self, spark):
        df = spark.createDataFrame([(1, "x")], ["k", "v"])
        small = spark.createDataFrame([(1, "s")], ["k", "w"])
        with pytest.raises(ValueError, match="inner"):
            salted_join(df, small, ["k"], how="full_outer")

    def test_left_join_row_identical(self, spark):
        big = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        small = spark.createDataFrame([(1, "s")], ["k", "w"])
        salted = {tuple(r) for r in salted_join(big, small, ["k"], how="left").collect()}
        plain = {tuple(r) for r in big.join(small, ["k"], "left").collect()}
        assert salted == plain


class TestNotificationTemplating:
    def test_render_matches_reference_shape(self, spark):
        outcomes = spark.createDataFrame(
            [("e1", "insert", "people", "f.csv", "b", "approved",
              "Inserted file rows into people (conflicts skipped).",
              "2026-01-01T00:00:00Z"),
             ("e2", "update", "people", "g.csv", "b", "failed",
              "boom", None)],
            OUTCOME_SCHEMA,
        )
        got = {r["event_id"]: r for r in
               render_result_notifications(outcomes).collect()}
        assert got["e1"]["subject"] == "Success: Insert Operation on people"
        assert got["e2"]["subject"] == "Failure: Update Operation on people"
        body = got["e1"]["body"]
        assert "<strong>insert</strong> operation on table <strong>people</strong>" in body
        assert "(Event ID: e1)" in body
        assert "<strong>Status:</strong> Success" in body
        assert "<strong>Timestamp:</strong> 2026-01-01T00:00:00Z" in body


class TestLshParameterization:
    def test_minhash_lsh_non_default_params(self, spark):
        from etl_notifier_pipeline_spark.catalog import load_table
        from etl_notifier_pipeline_spark.extensions.dedup import minhash_lsh_dedup

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        pairs = minhash_lsh_dedup(
            docs, threshold=0.5, n_hashes=8, n_bands=2
        ).collect()
        assert pairs, "non-default banding found no near-dup pairs at all"
        assert all(p["jaccard"] >= 0.5 for p in pairs)
        # soundness at any parameterization: LSH output is a subset of
        # the exhaustive n-gram Jaccard pairs at the same threshold
        # (jaccard_pairs is candidate-complete: any pair with J >= 0.5
        # shares at least one shingle)
        from etl_notifier_pipeline_spark.extensions.dedup import jaccard_pairs

        exact = {
            (p["doc_a"], p["doc_b"])
            for p in jaccard_pairs(docs, threshold=0.5).collect()
        }
        assert {(p["doc_a"], p["doc_b"]) for p in pairs} <= exact

    def test_bad_banding_rejected(self, spark):
        from etl_notifier_pipeline_spark.catalog import load_table
        from etl_notifier_pipeline_spark.extensions.dedup import minhash_lsh_dedup

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        with pytest.raises(ValueError, match="band evenly"):
            minhash_lsh_dedup(docs, n_hashes=10, n_bands=4).collect()

    def test_ann_non_default_tables(self, spark):
        from etl_notifier_pipeline_spark.catalog import load_table
        from etl_notifier_pipeline_spark.extensions.similarity import ann_lsh_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.limit(3)
        out = ann_lsh_topk(emb, queries, k=4, n_planes=2, n_tables=3)
        counts = out.groupBy("query_id").count().collect()
        assert counts and all(r["count"] <= 4 for r in counts)


class TestCrashRecovery:
    def test_partial_write_is_invisible_and_recoverable(self, spark, tmp_store):
        """A writer that dies after writing files but BEFORE the
        pointer swap leaves no trace for readers, and the next writer
        reclaims the orphaned version dir."""
        import os

        df1 = spark.createDataFrame([(1,)], ["x"])
        tmp_store.overwrite("t", df1)
        # simulate the crash: stray v=2 with garbage, pointer untouched
        stray = os.path.join(os.path.dirname(tmp_store.path("t")), "v=2")
        os.makedirs(stray)
        with open(os.path.join(stray, "part-junk.parquet"), "w") as f:
            f.write("not parquet")
        assert [r["x"] for r in tmp_store.read("t").collect()] == [1]
        # next overwrite claims v=2 cleanly (mode=overwrite wipes junk)
        tmp_store.overwrite("t", spark.createDataFrame([(2,)], ["x"]))
        assert [r["x"] for r in tmp_store.read("t").collect()] == [2]


class TestPipelineWithBucketedStore:
    def test_approval_update_rewrites_only_affected_buckets(
        self, spark, tmp_path
    ):
        """EP3 end-to-end on the incremental backend: an approved
        2-row update against an 80-row bucketed table must route
        through apply_keyed_mutation and carry every unaffected
        bucket's files forward from the previous version — the
        O(affected-buckets) commit the full-rewrite TableStore can't
        give. Results must be identical to the sequential semantics."""
        from etl_notifier_pipeline_spark.ledger import LEDGER_KEYS
        from etl_notifier_pipeline_spark.storage import BucketedTableStore

        bstore = BucketedTableStore(
            spark, str(tmp_path / "bstore"),
            keys={"people": ["pid"], **LEDGER_KEYS}, n_buckets=8,
        )
        rows = [(str(i), f"p{i}") for i in range(80)]
        bstore.overwrite(
            "people", spark.createDataFrame(rows, ["pid", "name"])
        )
        v1 = bstore.current_version("people")
        m1 = bstore._manifest("people", v1)

        csv_root = tmp_path / "bucket"
        csv_root.mkdir()
        (csv_root / "u.csv").write_text("pid,name\n7,SEVEN\n41,FORTYONE\n")
        pipe = ApprovalPipeline(
            spark=spark, store=bstore, notifier=LogNotifier(),
            keys={"people": ["pid"]}, csv_root=str(csv_root),
        )
        pipe.ledger.record_arrivals(spark.createDataFrame(
            [("u.csv", "e1", "b", "update")],
            ["file_name", "event_id", "bucket", "operation"],
        ))
        from tests.test_ledger_pipeline import batch, ev

        pipe.run_batch(batch(
            spark, ev("e1", "approve", "u.csv", "people", "update"),
        ))

        got = {r["pid"]: r["name"] for r in bstore.read("people").collect()}
        want = {str(i): f"p{i}" for i in range(80)}
        want["7"], want["41"] = "SEVEN", "FORTYONE"
        assert got == want
        v2 = bstore.current_version("people")
        assert v2 == v1 + 1
        m2 = bstore._manifest("people", v2)
        fresh = {
            k for k, dirs in m2["buckets"].items()
            if any(d.startswith(f"v={v2}/") for d in dirs)
        }
        carried = {
            k for k, dirs in m2["buckets"].items()
            if dirs == m1["buckets"].get(k)
        }
        # 2 keys -> at most 2 buckets rewritten; the rest byte-identical
        assert 1 <= len(fresh) <= 2
        assert carried == set(m2["buckets"]) - fresh
        assert len(carried) >= 6
        status = pipe.ledger.processed_files().collect()[0]["status"]
        assert status == "approved"


def test_derived_split_bytes_scales_with_memory_and_slots():
    """r11 ADVICE: the 16m/8m spill-lever conf was measured on this
    host's 8g/32-slot budget; hardcoded, it would shrink every bigger
    deployment's tasks to host-specific constants. The derivation must
    reproduce the measured winning point here and scale elsewhere."""
    from etl_notifier_pipeline_spark.session import derived_split_bytes

    # this host: 8g / 32 slots -> the measured 16m/8m point, exactly
    assert derived_split_bytes("8g", 32) == (16 << 20, 8 << 20)
    # a 64g/8-slot executor: 8g/task budget -> clamped at Spark's own
    # 128m default (bigger splits stop paying)
    assert derived_split_bytes("64g", 8) == (128 << 20, 64 << 20)
    # a starved 2g/32-slot box: floors at 4m/2m, task overhead bound
    assert derived_split_bytes("2g", 32) == (4 << 20, 2 << 20)
    # suffix parsing: 8192m == 8g; Spark's two-letter forms ("8gb")
    # are legal too; bare numbers are MiB (spark.driver.memory
    # semantics), not bytes
    assert derived_split_bytes("8192m", 32) == (16 << 20, 8 << 20)
    assert derived_split_bytes("8192", 32) == (16 << 20, 8 << 20)
    assert derived_split_bytes("8gb", 32) == (16 << 20, 8 << 20)
    assert derived_split_bytes("8192mb", 32) == (16 << 20, 8 << 20)


def test_session_split_sizes_are_derived(spark):
    """get_spark sets both split-size confs from derived_split_bytes for
    its driver memory and slot count (the test session runs 8 slots)."""
    from etl_notifier_pipeline_spark.session import derived_split_bytes

    split, advisory = derived_split_bytes(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"), 8
    )
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(split)
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == str(advisory)
    )


def test_repeated_plans_reuse_their_generated_classes(spark):
    """The codegen cache holds a working set larger than Spark's default
    100 entries: each plan inlines its own int literal into its
    generated source, so 80 plans generate more than 100 distinct
    classes, and running them again compiles none of them."""
    from etl_notifier_pipeline_spark.metrics import measured

    def round_():
        for i in range(80):
            spark.range(4, numPartitions=1).select(
                (F.col("id") * 1_000_003 + F.lit(7_770_000 + i)).alias("v")
            ).collect()

    with measured(spark, "codegen-cache-first") as first:
        round_()
    with measured(spark, "codegen-cache-again") as again:
        round_()
    assert first["codegenCompiles"] > 100
    assert again["codegenCompiles"] == 0
