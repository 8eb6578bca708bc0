"""Control-plane ledger (SURVEY §7 M3): processed_files + delete_control.

The reference's exactly-once machinery is two Postgres tables:

- ``processed_files`` (``data-query.py:94-99``,
  ``process-pipeline.py:485-494``): one row per file-arrival event,
  keyed by event_id, with per-file monotone versions and a
  pending -> approved/rejected/failed status lifecycle.
- ``delete_control`` (``process-pipeline.py:299-305``,
  ``delete-control.py:53-81``): queued deletes executed later by a
  scheduled pass (two-phase mutation). The reference stores literal
  SQL strings (an injection-shaped design, ``process-pipeline.py:281``);
  this engine stores *keys as data* (table + key JSON), never SQL.

Spark-first changes: idempotency and version assignment are
set-at-a-time (anti-join / window) instead of per-event point queries;
state lives in TableStore parquet versions with atomic pointer swaps.

Cost per micro-batch. On a ``BucketedTableStore`` that declares
``processed_files`` keyed by ``["event_id"]`` (the approval pipeline's
default store does), the event-id lookups are the reference's point
queries in batch form and touch only the buckets the batch's event ids
hash into:

- ``filter_unprocessed`` and the redelivery anti-join in
  ``record_arrivals``: one ``read_keyed`` each, O(affected buckets);
- ``mark_many``: ``read_keyed`` of the batch's rows, then a
  copy-on-write ``apply_keyed_mutation(op="update")`` that rewrites
  only those buckets (about 9 of 64 for a 10-event batch).

Still O(ledger): ``record_arrivals``' per-file base version, a scan of
the two columns ``(file_name, file_version)`` semi-joined to the
batch's file names (file names are not the bucketing key). The appends
themselves are O(batch). ``delete_control`` is not bucketed by key, so
``queue_deletes`` and ``drain_deletes`` stay O(delete_control). On any
other store (a plain ``TableStore``) every lookup scans the ledger and
``mark_many`` rewrites it whole.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_notifier_pipeline_spark.storage import TableStore

PROCESSED_FILES_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("file_version", T.IntegerType(), False),
        T.StructField("is_processed", T.BooleanType(), False),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("operation", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("approval_timestamp", T.StringType(), True),
    ]
)

# DeleteQuery (stored SQL) is replaced by (target_table, key_json).
DELETE_CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("target_table", T.StringType(), False),
        T.StructField("key_json", T.StringType(), False),
        T.StructField("delete_flag", T.BooleanType(), False),
        T.StructField("executed_flag", T.BooleanType(), False),
        T.StructField("approval_timestamp", T.StringType(), True),
        T.StructField("executed_timestamp", T.StringType(), True),
    ]
)

VALID_STATUSES = ("pending", "approved", "rejected", "failed")


@dataclass
class Ledger:
    spark: SparkSession
    store: TableStore

    def _empty(self, schema: T.StructType) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def processed_files(self) -> DataFrame:
        if self.store.exists("processed_files"):
            return self.store.read("processed_files")
        return self._empty(PROCESSED_FILES_SCHEMA)

    def _keyed(self) -> bool:
        """The store buckets ``processed_files`` by event_id."""
        keys = getattr(self.store, "keys", {}).get("processed_files")
        return keys is not None and list(keys) == ["event_id"]

    def _rows_for(self, events: DataFrame) -> DataFrame:
        """Every ledger row whose event_id is in ``events`` — plus, on a
        store without the event_id bucketing, all the others (callers
        join on event_id, so the extra rows never match)."""
        if self._keyed() and self.store.exists("processed_files"):
            return self.store.read_keyed("processed_files", events.select("event_id"))
        return self.processed_files()

    def delete_control(self) -> DataFrame:
        if self.store.exists("delete_control"):
            return self.store.read("delete_control")
        return self._empty(DELETE_CONTROL_SCHEMA)

    # -- EP1: file arrival -> pending control rows --------------------------

    def record_arrivals(self, arrivals: DataFrame) -> DataFrame:
        """Append pending control rows for a batch of file arrivals
        (``data-query.py:87-108``), assigning per-file versions
        set-at-a-time: next_version = MAX(existing)+row_number within
        the batch — the batch form of the reference's MAX+1
        (``data-query.py:70-85``). Duplicate event_ids (redelivery) are
        dropped by anti-join (ST1).

        ``arrivals`` columns: file_name, event_id, bucket, operation.
        """
        fresh = arrivals.join(
            self._rows_for(arrivals).select("event_id"), "event_id", "left_anti"
        )
        # The one O(ledger) scan left on the approval path: file names
        # are not the bucketing key, so this reads the two columns of
        # every row, keeping only the batch's files before the max.
        base = (
            self.processed_files()
            .select("file_name", "file_version")
            .join(
                F.broadcast(arrivals.select("file_name").distinct()),
                "file_name", "left_semi",
            )
            .groupBy("file_name")
            .agg(F.max("file_version").alias("base_version"))
        )
        w = W.partitionBy("file_name").orderBy("event_id")
        rows = (
            fresh.join(F.broadcast(base), "file_name", "left")
            .withColumn(
                "file_version",
                (F.coalesce(F.col("base_version"), F.lit(0)) + F.row_number().over(w)).cast("int"),
            )
            .withColumn("is_processed", F.lit(False))
            .withColumn("status", F.lit("pending"))
            .withColumn("approval_timestamp", F.lit(None).cast("string"))
            .select([f.name for f in PROCESSED_FILES_SCHEMA.fields])
        )
        self.store.append("processed_files", rows)
        return rows

    # -- ST1: idempotency ---------------------------------------------------

    def filter_unprocessed(self, events: DataFrame) -> DataFrame:
        """Drop events whose event_id is already marked processed —
        one anti-join replacing the reference's per-event point SELECT
        (``process-pipeline.py:89-101``)."""
        done = self._rows_for(events).filter(F.col("is_processed")).select("event_id")
        return events.join(done, "event_id", "left_anti")

    # -- EP3 step e: status transition -------------------------------------

    def mark(
        self,
        event_ids: DataFrame,
        status: str,
        *,
        processed: bool = True,
        approval_timestamp: str | None = None,
    ) -> None:
        """Transition control rows for a set of event_ids
        (``process-pipeline.py:485-495``): status update + is_processed
        flag, as one ``mark_many``."""
        if status not in VALID_STATUSES:
            raise ValueError(f"invalid status {status!r}; expected {VALID_STATUSES}")
        outcomes = (
            event_ids.select("event_id")
            .withColumn("status", F.lit(status))
            .withColumn("is_processed", F.lit(processed))
            .withColumn("approval_timestamp", F.lit(approval_timestamp).cast("string"))
        )
        self.mark_many(outcomes)

    def mark_many(self, outcomes: DataFrame) -> None:
        """Batch status transition: ONE ledger commit for a whole
        micro-batch of per-event outcomes, instead of one rewrite per
        event (r01 scale fix: per-event ``mark`` was O(events × ledger)
        per micro-batch).

        On an event_id-bucketed store the commit is a keyed update of
        the outcomes' rows: a ``read_keyed`` of those rows, then a
        copy-on-write ``apply_keyed_mutation`` that rewrites only their
        buckets. Elsewhere it is one read + overwrite of the ledger.

        ``outcomes`` columns: event_id, status, is_processed,
        approval_timestamp. Duplicate event_ids keep one arbitrary row
        (callers produce at most one outcome per event); event_ids
        absent from the ledger are ignored.
        """
        o = F.broadcast(
            outcomes.select(
                "event_id",
                F.col("status").alias("__new_status"),
                F.col("is_processed").alias("__new_processed"),
                F.col("approval_timestamp").alias("__new_ts"),
            ).dropDuplicates(["event_id"])
        )
        keyed = self._keyed()
        updated = (
            self._rows_for(outcomes).join(o, "event_id", "inner" if keyed else "left")
            .withColumn("is_processed",
                        F.coalesce(F.col("__new_processed"), F.col("is_processed")))
            .withColumn(
                "approval_timestamp",
                F.when(F.col("__new_status").isNotNull(), F.col("__new_ts")).otherwise(
                    F.col("approval_timestamp")
                ),
            )
            .withColumn("status", F.coalesce(F.col("__new_status"), F.col("status")))
            .drop("__new_status", "__new_processed", "__new_ts")
        )
        if not keyed:
            self.store.overwrite("processed_files", updated)
            return
        # Batch-sized rows, used by the bucket-id collect, the
        # anti-join and the union of the mutation: compute them once.
        updated = updated.localCheckpoint()
        self.store.apply_keyed_mutation(
            "processed_files", updated, ["event_id"], ["event_id"], "update"
        )

    # -- ST4: two-phase delete queue ----------------------------------------

    def queue_deletes(self, requests: DataFrame) -> DataFrame:
        """Queue delete requests (``process-pipeline.py:255-315``):
        drop requests already pending (J5, one anti-join), assign
        contiguous query_ids above the current max (A2's
        COALESCE(MAX)+1, batch form), store keys-as-data.

        ``requests`` columns: event_id, target_table, key_json.
        """
        dc = self.delete_control()
        pending = dc.filter(~F.col("executed_flag")).select("target_table", "key_json")
        fresh = requests.join(
            F.broadcast(pending.dropDuplicates(["target_table", "key_json"])),
            ["target_table", "key_json"],
            "left_anti",
        )
        # Intra-batch dedup (the reference's per-row COUNT(*) check sees
        # its own same-transaction inserts, so duplicate keys within one
        # batch queue once): keep the earliest event_id per key.
        fresh = fresh.groupBy("target_table", "key_json").agg(
            F.min("event_id").alias("event_id")
        )
        base = (
            dc.agg(F.coalesce(F.max("query_id"), F.lit(0)).alias("m")).collect()[0]["m"]
        )
        # Contiguous ids without a global single-partition window:
        # row_number within a 64-way hash partition, then add per-
        # partition cumulative offsets (the offset frame is <=64 rows,
        # so its unpartitioned window is trivially cheap).
        fresh = fresh.withColumn(
            "__p", F.pmod(F.xxhash64("target_table", "key_json"), F.lit(64))
        )
        wp = W.partitionBy("__p").orderBy("target_table", "key_json", "event_id")
        numbered = fresh.withColumn("__rn", F.row_number().over(wp))
        offs = (
            numbered.groupBy("__p")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn(
                "__off",
                F.coalesce(
                    F.sum("__cnt").over(
                        W.orderBy("__p").rowsBetween(W.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        )
        rows = (
            numbered.join(F.broadcast(offs.select("__p", "__off")), "__p")
            .withColumn(
                "query_id", (F.lit(base) + F.col("__off") + F.col("__rn")).cast("long")
            )
            .drop("__p", "__rn", "__off")
            .withColumn("delete_flag", F.lit(True))
            .withColumn("executed_flag", F.lit(False))
            .withColumn("approval_timestamp", F.lit(None).cast("string"))
            .withColumn("executed_timestamp", F.lit(None).cast("string"))
            .select([f.name for f in DELETE_CONTROL_SCHEMA.fields])
        )
        # Materialize once: the append AND every caller-side count/
        # collect read the checkpointed rows instead of re-running the
        # anti-join + id-assignment plan.
        rows = rows.localCheckpoint()
        self.store.append("delete_control", rows)
        return rows

    def drain_deletes(self, apply_fn) -> int:
        """EP4 — execute all pending deletes (``delete-control.py:39-101``)
        set-at-a-time: hand the full pending frame to ``apply_fn``
        (which runs the anti-join overwrites per target table), then
        flip executed_flag in one overwrite."""
        dc = self.delete_control()
        pending = dc.filter(~F.col("executed_flag"))
        n = pending.count()
        if n == 0:
            return 0
        apply_fn(pending)
        now = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        updated = dc.withColumn(
            "executed_timestamp",
            F.when(~F.col("executed_flag"), now).otherwise(F.col("executed_timestamp")),
        ).withColumn("executed_flag", F.lit(True))
        self.store.overwrite("delete_control", updated)
        return n
