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
set-at-a-time instead of per-event point queries; state lives in the
versions of a store (``storage._VersionedStore``: ``TableStore`` or
``BucketedTableStore``), committed by a locked, version-CAS pointer
swap.

Both tables are keyed (``LEDGER_KEYS``): ``processed_files`` by
event_id, ``delete_control`` by query_id. Every lookup and transition
is the store's keyed call — ``read_keyed`` or
``apply_keyed_mutation(op="update")``, which reads at one pinned
version and commits with a CAS on it — the batch form of the
reference's keyed statements. A ``BucketedTableStore`` holding the
ledger must declare these keys (the approval pipeline's default store
does); its keyed calls touch only the buckets the batch's keys hash
into (about 9 of 64 for a 10-event batch).

Where the work runs. A batch's event-sized data — arrivals, outcomes,
the keys of a lookup — stays on the driver and reaches Spark only as a
``local_frame`` (an Arrow-backed local relation: projections, filters
and collects over it launch no job). What data sizes stays a Spark
plan: the ledger scans, the appends and the keyed update.

- ``record_arrivals``: one collect of the arrivals (first delivery of
  an event_id wins), one keyed read of the known event_ids, one scan of
  ``(file_name, file_version)`` filtered to the batch's files, versions
  assigned on the driver, one append of a local frame. A batch of
  redeliveries commits nothing.
- ``filter_unprocessed``: one keyed read of the batch's processed
  event_ids; ``events`` is filtered by them, so a local ``events``
  stays local.
- ``mark_many``: one collect of the outcomes (the last per event_id
  wins) and one keyed read of their ledger rows, merged on the driver,
  then one keyed update of a local frame.
- ``queue_deletes`` and ``drain_deletes``: Spark plans throughout, as
  CSV rows size their requests.

Still O(ledger): ``record_arrivals``' per-file base version (file names
are not the bucketing key, so its two-column scan reads every row) and
the pending scans of ``queue_deletes`` and ``drain_deletes``. Everything
else is O(batch) on a ``BucketedTableStore``; on a plain ``TableStore``
the keyed reads and the update scan the whole table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_notifier_pipeline_spark.operators.mutations import filter_new_deletes
from etl_notifier_pipeline_spark.operators.prefix import prefix_sum
from etl_notifier_pipeline_spark.storage import _VersionedStore, local_frame

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

# The ledger tables' keys: what its keyed reads and updates match on,
# and what a BucketedTableStore holding the ledger must bucket it by.
LEDGER_KEYS = {"processed_files": ["event_id"], "delete_control": ["query_id"]}

VALID_STATUSES = ("pending", "approved", "rejected", "failed")

_EVENT_ID_SCHEMA = T.StructType([T.StructField("event_id", T.StringType(), False)])


@dataclass
class Ledger:
    spark: SparkSession
    store: _VersionedStore

    def _empty(self, schema: T.StructType) -> DataFrame:
        return local_frame(self.spark, [], schema)

    def processed_files(self) -> DataFrame:
        if self.store.exists("processed_files"):
            return self.store.read("processed_files")
        return self._empty(PROCESSED_FILES_SCHEMA)

    def _rows_for(self, event_ids) -> DataFrame:
        """Every ledger row whose event_id is in ``event_ids`` (driver-
        side ids): a keyed read whose key set is a local frame."""
        if not self.store.exists("processed_files"):
            return self._empty(PROCESSED_FILES_SCHEMA)
        keys = local_frame(self.spark, [(e,) for e in event_ids], _EVENT_ID_SCHEMA)
        return self.store.read_keyed("processed_files", keys)

    def delete_control(self) -> DataFrame:
        if self.store.exists("delete_control"):
            return self.store.read("delete_control")
        return self._empty(DELETE_CONTROL_SCHEMA)

    # -- EP1: file arrival -> pending control rows --------------------------

    def record_arrivals(self, arrivals: DataFrame) -> DataFrame:
        """Append pending control rows for a batch of file arrivals
        (``data-query.py:87-108``) and return them as a local frame.
        Each file's new versions continue from its current MAX in
        event_id order — the batch form of the reference's MAX+1
        (``data-query.py:70-85``). Event_ids already in the ledger
        (redelivery, ST1) are dropped, an event_id delivered more than
        once in the batch keeps its first delivery, and a batch with no
        fresh event_id commits nothing.

        ``arrivals`` columns: file_name, event_id, bucket, operation.
        """
        batch: dict = {}
        for r in arrivals.select("file_name", "event_id", "bucket", "operation").collect():
            batch.setdefault(r["event_id"], r)
        known = {r["event_id"] for r in self._rows_for(batch).select("event_id").collect()}
        fresh = sorted(e for e in batch if e not in known)
        if not fresh:
            return self._empty(PROCESSED_FILES_SCHEMA)
        # The one O(ledger) scan left on the approval path: file names
        # are not the bucketing key, so this reads the two columns of
        # every row, keeping only the batch's files.
        files = list({batch[e]["file_name"] for e in fresh})
        version: dict = {}
        for f, v in (
            self.processed_files()
            .select("file_name", "file_version")
            .filter(F.col("file_name").isin(files))
            .collect()
        ):
            version[f] = max(version.get(f, 0), v)
        rows = []
        for e in fresh:
            a = batch[e]
            version[a["file_name"]] = version.get(a["file_name"], 0) + 1
            rows.append((
                a["file_name"], e, version[a["file_name"]], False,
                a["bucket"], a["operation"], "pending", None,
            ))
        out = local_frame(self.spark, rows, PROCESSED_FILES_SCHEMA)
        self.store.append("processed_files", out)
        return out

    # -- ST1: idempotency ---------------------------------------------------

    def filter_unprocessed(self, events: DataFrame) -> DataFrame:
        """``events`` without those whose event_id is already marked
        processed — one keyed read of the batch's processed event_ids
        replacing the reference's per-event point SELECT
        (``process-pipeline.py:89-101``). The result is ``events``
        filtered by those ids, so a local ``events`` stays local."""
        ids = {r["event_id"] for r in events.select("event_id").collect()}
        processed = self._rows_for(ids).filter(F.col("is_processed"))
        done = [r["event_id"] for r in processed.select("event_id").collect()]
        eid = F.col("event_id")
        return events.filter(eid.isNull() | ~eid.isin(done))

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

        The outcomes and their ledger rows (one ``read_keyed``) are
        collected and merged on the driver, then committed as one
        ``apply_keyed_mutation`` update of a local frame.

        ``outcomes`` columns: event_id, status, is_processed,
        approval_timestamp. The last outcome per event_id wins;
        event_ids absent from the ledger are ignored, and a batch of
        only those commits nothing.
        """
        new = {
            r["event_id"]: r.asDict()
            for r in outcomes.select(
                "event_id", "status", "is_processed", "approval_timestamp"
            ).collect()
        }
        updated = []
        for row in self._rows_for(new).collect():
            merged = {**row.asDict(), **new[row["event_id"]]}
            updated.append(tuple(merged[f] for f in PROCESSED_FILES_SCHEMA.names))
        if not updated:
            return
        keys = LEDGER_KEYS["processed_files"]
        self.store.apply_keyed_mutation(
            "processed_files", local_frame(self.spark, updated, PROCESSED_FILES_SCHEMA),
            keys, keys, "update",
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
        fresh = filter_new_deletes(
            requests, dc.filter(~F.col("executed_flag")), ["target_table", "key_json"]
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
        # Contiguous ids without a global single-partition window: a
        # running count over 64 hash parts (operators.prefix).
        fresh = fresh.withColumn(
            "__p", F.pmod(F.xxhash64("target_table", "key_json"), F.lit(64))
        )
        rows = (
            prefix_sum(
                fresh, "__p", F.lit(1), ["target_table", "key_json", "event_id"],
                alias="__n",
            )
            .withColumn("query_id", (F.lit(base) + F.col("__n")).cast("long"))
            .drop("__p", "__n")
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
        (which runs the keyed deletes per target table), then flip
        executed_flag on exactly those rows in one keyed update — a
        delete queued meanwhile stays pending (or, if its commit lands
        inside the update's read-to-commit window, the update fails
        with ``ConcurrentWriteError`` and the drain can be rerun)."""
        # Read once: the count, apply_fn's per-table key sets and the
        # keyed update (its bucket-id collect, anti-join and union) all
        # use these rows.
        pending = self.delete_control().filter(~F.col("executed_flag")).localCheckpoint()
        n = pending.count()
        if n == 0:
            return 0
        apply_fn(pending)
        now = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        done = pending.withColumn("executed_flag", F.lit(True)).withColumn(
            "executed_timestamp", now
        )
        keys = LEDGER_KEYS["delete_control"]
        self.store.apply_keyed_mutation("delete_control", done, keys, keys, "update")
        return n
