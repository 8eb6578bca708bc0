"""Streaming-semantics queries (SURVEY §2.9).

st01 runs a REAL Structured Streaming query (readStream file source,
AvailableNow trigger, memory sink) whose result is still oracle-checked
against plain SQL — the tumbling window has an exact batch equivalent.
The others check the batch twins of the streaming plans (same
F.window/session_window expressions Structured Streaming executes) so
every windowing semantic gets a value-level oracle; the live-stream
behaviors that SQL can't express (watermark eviction, foreachBatch
ledger effects) are covered in tests/.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_notifier_pipeline_spark.catalog import load_table
from etl_notifier_pipeline_spark.functions.scalar import ts_micros
from etl_notifier_pipeline_spark.plans.registry import register
from etl_notifier_pipeline_spark.streaming import windows as SW


@register(
    "st01_tumbling_stream",
    category="streaming",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def st01_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window aggregate executed by an actual
    StreamExecution (file source -> AvailableNow -> memory sink); the
    oracle is the equivalent batch SQL — streaming and batch must
    agree on event-time semantics."""
    ev = SW.stream_events(spark, sf_dir)
    agg = SW.tumbling_counts(ev, "1 hour")
    name = f"st01_out_{uuid.uuid4().hex[:8]}"
    return SW.run_stream_to_table(agg, spark, name)


@register(
    "st02_sliding_window",
    category="streaming",
    oracle="""
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // 900000000) * 900000000 AS s1
  FROM events
),
w AS (
  SELECT event_type, s1 AS ws FROM b
  UNION ALL
  SELECT event_type, s1 - 900000000 AS ws FROM b
)
SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n
FROM w
GROUP BY 1, 2
""",
)
def st02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 30m/15m window counts (each event lands in exactly 2
    windows). The oracle enumerates both windows per event with integer
    epoch-microsecond arithmetic — exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    return SW.sliding_counts(ev, "30 minutes", "15 minutes")


@register(
    "st03_session_window",
    category="streaming",
    oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS session_value
FROM s
GROUP BY user_id, sess
""",
)
def st03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30m gap) via ``F.session_window`` —
    the oracle is the classic gaps-and-islands rewrite; session end =
    last event + gap on both sides."""
    ev = load_table(spark, sf_dir, "events")
    return SW.session_aggregate(ev, "30 minutes")


@register(
    "st04_dedup_first_arrival",
    category="streaming",
    oracle="""
SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def st04_dedup_first_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1's dedup shape in batch form: first event per
    (user_id, event_type) in event-time order — the deterministic twin
    of streaming ``dropDuplicates`` (whose arrival-order semantics are
    exercised in tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        )
    )


@register(
    "st07_notification_render",
    category="streaming",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS event_id,
       printf('%s: %s Operation on %s',
              CASE WHEN value >= 50 THEN 'Success' ELSE 'Failure' END,
              upper(substr(event_type, 1, 1)) || substr(event_type, 2),
              'events') AS subject,
       printf('<html><body><p>Dear User,</p><p>The <strong>%s</strong> operation on table <strong>%s</strong> via file <strong>%s</strong> (Event ID: %s) has finished processing.</p><p><strong>Status:</strong> %s</p><p><strong>Details:</strong></p><p>%s</p><p><strong>Bucket:</strong> %s</p><p><strong>Timestamp:</strong> %s</p><p>Best regards,<br>Your Data Engineering Team</p></body></html>',
              event_type, 'events',
              CAST(event_id AS VARCHAR) || '.csv',
              CAST(event_id AS VARCHAR),
              CASE WHEN value >= 50 THEN 'Success' ELSE 'Failure' END,
              'rows=' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR),
              'bucket-a',
              strftime(ts, '%Y-%m-%d %H:%M:%S')) AS body
FROM events
WHERE event_id % 97 = 0
""",
)
def st07_notification_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — result-notification subject/body templating as pure
    Column expressions (``format_string``/``initcap``), value-checked
    against DuckDB ``printf``. Mirrors the reference's per-operation
    result email (``process-pipeline.py:366-387``); the live pipeline
    renders through the same ``render_result_notifications`` plan."""
    from etl_notifier_pipeline_spark.streaming.pipeline import (
        render_result_notifications,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    outcomes = ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.col("event_type").alias("operation"),
        F.lit("events").alias("table_name"),
        F.concat(F.col("event_id").cast("string"), F.lit(".csv")).alias("file_name"),
        F.lit("bucket-a").alias("bucket"),
        F.when(F.col("value") >= 50, F.lit("approved"))
        .otherwise(F.lit("failed"))
        .alias("status"),
        F.concat(
            F.lit("rows="), F.floor("value").cast("bigint").cast("string")
        ).alias("details"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("approval_timestamp"),
    )
    return render_result_notifications(outcomes)


@register(
    "st09_stream_static_enrichment",
    category="streaming",
    oracle="""
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
       e.event_type,
       CAST(CAST(e.value AS DECIMAL(10,2)) AS DOUBLE) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type IN ('purchase', 'signup')
""",
)
def st09_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, batch twin: each event joins
    the (static) customer dimension — in Structured Streaming the
    static side is re-read per micro-batch and BROADCAST, so the
    stream never shuffles; this is the standard lookup-enrichment
    stage before a feature sink. The value column rides through the
    decimal round-trip so the twin stays bit-exact."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    c = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
    )
    return ev.join(c, ev.user_id == c.c_custkey).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        "event_type",
        F.col("value").cast("decimal(10,2)").cast("double").alias("value"),
    )


@register(
    "st08_interval_join",
    category="streaming",
    oracle="""
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id AS user_id,
       (epoch_us(p.ts) - epoch_us(s.ts)) // 60000000 AS minutes_after
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
""",
)
def st08_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: purchases within 1h
    after a signup by the same user — the same equi-key + event-time
    range predicate Structured Streaming executes under dual
    watermarks (live form in tests/test_stream_join.py). At scale the
    equi-key carries the shuffle; the range predicate bounds the
    per-key state window."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id"),
        F.col("ts").alias("s_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        s.join(
            p,
            ["user_id"],
        )
        .filter(
            (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "signup_id",
            "purchase_id",
            "user_id",
            ((ts_micros("p_ts") - ts_micros("s_ts")) / F.lit(60000000))
            .cast("long")
            .alias("minutes_after"),
        )
    )


@register(
    "st10_cascaded_rollup",
    category="streaming",
    oracle="""
WITH m AS (
  SELECT (epoch_us(ts) // 900000000) * 900000000 AS mb, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(10,2))) AS v
  FROM events GROUP BY 1, 2
)
SELECT strftime(make_timestamp((mb // 3600000000) * 3600000000),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(v) AS DOUBLE) AS total_value,
       COUNT(*) AS n_subwindows
FROM m GROUP BY 1, 2
""",
)
def st10_cascaded_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded window rollup (15 min -> 1 hour), batch twin of the
    Spark-3.4 chained-streaming-aggregation plan (SW.cascaded_rollup;
    live two-stateful-operator form under a watermark in
    tests/test_streaming.py). The oracle states the cascade as
    two-level integer epoch bucketing; ``n_subwindows`` pins that the
    coarse level aggregates fine WINDOWS, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    return SW.cascaded_rollup(ev)


@register(
    "st11_interval_join_outer",
    category="streaming",
    oracle="""
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id AS user_id,
       (epoch_us(p.ts) - epoch_us(s.ts)) // 60000000 AS minutes_after
FROM events s LEFT JOIN events p
  ON s.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup'
""",
)
def st11_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, batch twin: every
    signup, with its within-1h purchases or NULL if none — the outer
    form Structured Streaming supports under dual watermarks (the
    unmatched-left row emits once the watermark passes the interval
    end; st08 is the inner twin). The range predicate lives IN the
    join condition — an outer join's filter cannot be applied
    post-join without turning matched-but-out-of-range rows into
    false matches instead of NULLs.

    Scale shape: identical to st08 — the equi-key (user_id) carries
    the shuffle, the interval bounds the per-key state; outer rows
    add no extra pass (null-fill happens in the join operator)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id"),
        F.col("ts").alias("s_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = s.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    return joined.select(
        "signup_id",
        "purchase_id",
        "user_id",
        ((ts_micros("p_ts") - ts_micros("s_ts")) / F.lit(60000000))
        .cast("long")
        .alias("minutes_after"),
    )


@register(
    "st12_stream_interval_join_live",
    category="streaming",
    oracle="""
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id AS user_id,
       (epoch_us(p.ts) - epoch_us(s.ts)) // 60000000 AS minutes_after
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
""",
)
def st12_stream_interval_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st08's interval join run as a REAL stream-stream join: two
    readStream legs over the events fixture, dual 2-hour watermarks,
    append-mode drain via Trigger.AvailableNow — value-checked against
    the same SQL oracle as the batch twin (one availableNow batch, so
    no row can be watermark-dropped; late-drop behavior is pinned in
    tests/test_stream_join.py). At scale the equi-key carries the
    join shuffle and the watermark bounds per-key state to the 1-hour
    interval plus slack."""
    from etl_notifier_pipeline_spark.streaming.windows import (
        run_stream_to_table,
        stream_events,
    )

    ev = stream_events(spark, sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "signup_id",
        "purchase_id",
        F.col("s_user").alias("user_id"),
        ((ts_micros("p_ts") - ts_micros("s_ts")) / F.lit(60000000))
        .cast("long")
        .alias("minutes_after"),
    )
    name = f"st12_out_{uuid.uuid4().hex[:8]}"
    return run_stream_to_table(joined, spark, name, output_mode="append")


@register(
    "st13_streaming_summary_maintenance",
    category="streaming",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*)
         AS avg_value
FROM events GROUP BY event_type
""",
)
def st13_streaming_summary_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """m09's materialized-summary maintenance run as a REAL stream:
    the events table is staged as four arrival files, a foreachBatch
    loop folds each micro-batch's partial aggregate into the stored
    summary (agg_delta + merge_aggregates over a versioned TableStore
    — O(delta + groups) per batch, summary-sized overwrites), and the
    drained summary must hash-equal the PLAIN aggregate oracle. This
    is the streaming-dashboard contract: four genuine micro-batches
    (maxFilesPerTrigger=1), cross-batch state in storage rather than
    in the stream engine.

    foreachBatch is at-least-once: on recovery Spark may re-deliver
    the last micro-batch with the SAME batch_id. The fold is made
    idempotent the way Delta's txn-id pattern does it — the
    last-applied batch_id is stored alongside the summary and a
    batch whose id is <= the recorded one is skipped instead of
    double-counted."""
    import tempfile

    from etl_notifier_pipeline_spark.operators.incremental import (
        agg_delta,
        merge_aggregates,
    )
    from etl_notifier_pipeline_spark.storage import TableStore, _as_nullable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="st13_")
    src = f"{tmp}/src"
    ev.repartition(4).write.mode("overwrite").parquet(src)
    schema = _as_nullable(ev.schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = TableStore(spark, f"{tmp}/store")
    val = F.col("value").cast("decimal(10,2)")
    aggs = {
        "n_events": ("count", F.count(F.lit(1))),
        "total_value": ("sum", F.sum(val)),
    }
    kinds = {name: kind for name, (kind, _) in aggs.items()}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if store.exists("summary_txn"):
            last = store.read("summary_txn").head()[0]
            if batch_id <= last:
                return  # replayed micro-batch: already folded
        delta = agg_delta(batch_df, ["event_type"], aggs)
        if store.exists("summary"):
            delta = merge_aggregates(
                store.read("summary"), delta, ["event_type"], kinds
            )
        store.overwrite("summary", delta)
        store.overwrite(
            "summary_txn",
            spark.createDataFrame(
                [(int(batch_id),)], "last_batch_id long"
            ),
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    return store.read("summary").select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        (F.col("total_value").cast("double") / F.col("n_events")).alias(
            "avg_value"
        ),
    )


# st14's arrival schedule: four micro-batches, batch k = docs with
# doc_id % 4 == k, arriving in k order (file mtimes force the file
# source's oldest-first ordering). Mirrored literally in the oracle's
# "earlier batch" predicate.
ST14_N_BATCHES = 4
ST14_THRESHOLD = 0.5


def _st14_oracle() -> str:
    from etl_notifier_pipeline_spark.plans import ext_dedup as XD

    return f"""
WITH sig AS ({XD._SIG_SQL}),
sig_bands AS (SELECT doc_id, {XD._BAND_KEYS} FROM sig),
bands AS ({XD._BAND_UNION}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND (l.doc_id % {ST14_N_BATCHES}) > (r.doc_id % {ST14_N_BATCHES})
),
hset AS (SELECT doc_id, {XD._HASHED_SETS} AS hs FROM documents),
jac AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
           / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
           AS jaccard
  FROM cand c
  JOIN hset a ON a.doc_id = c.doc_a
  JOIN hset b ON b.doc_id = c.doc_b
),
ranked AS (
  SELECT doc_a, doc_b, jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_a
                            ORDER BY jaccard DESC, doc_b) AS rn,
         COUNT(*) OVER (PARTITION BY doc_a) AS n_matches
  FROM jac WHERE jaccard >= {ST14_THRESHOLD}
),
m AS (
  SELECT doc_a AS doc_id, n_matches, doc_b AS best_match_id,
         jaccard AS best_jaccard
  FROM ranked WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(m.n_matches, 0) AS n_matches,
       m.best_match_id,
       m.best_jaccard,
       m.doc_id IS NULL AS is_novel
FROM documents d
LEFT JOIN m ON m.doc_id = d.doc_id
"""


@register(
    "st14_streaming_incremental_dedup",
    category="streaming",
    oracle=_st14_oracle(),
)
def st14_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-on-ingest: d13's incremental batch-vs-corpus LSH dedup
    run inside a REAL foreachBatch stream. Documents arrive as four
    genuine micro-batches (maxFilesPerTrigger=1, mtime-ordered files);
    each batch is near-dup-checked against the corpus accumulated from
    all EARLIER batches, its verdicts appended to a results store, and
    its docs folded into the corpus store. The drained verdict table
    must hash-equal a DuckDB twin that replays the whole arrival
    schedule declaratively (matches allowed only where the candidate's
    batch index is strictly smaller). The fold is idempotent at EVERY
    crash point under foreachBatch's at-least-once replay, not only
    between completed folds: see :func:`incremental_dedup_fold`.

    Scale shape: per increment the corpus side contributes only its
    (precomputable) band index to the join; signature work is
    batch-sized, exactly the property that lets dedup keep up with an
    ingest firehose at 100 TB corpus size."""
    import os as _os
    import tempfile

    from etl_notifier_pipeline_spark.extensions import dedup as D
    from etl_notifier_pipeline_spark.storage import TableStore, _as_nullable

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="st14_")
    src = f"{tmp}/src"
    _os.makedirs(src)
    now = int(__import__("time").time())
    for k in range(ST14_N_BATCHES):
        path = f"{src}/b{k}.parquet"
        docs.filter(F.col("doc_id") % ST14_N_BATCHES == k).coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        # file-source ordering is oldest-mtime-first: pin arrival order
        for root, _dirs, files in _os.walk(path):
            for fn in files:
                _os.utime(_os.path.join(root, fn), (now + k, now + k))
        _os.utime(path, (now + k, now + k))
    schema = _as_nullable(docs.schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*.parquet")
    )
    store = TableStore(spark, f"{tmp}/store")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        incremental_dedup_fold(
            store, batch_df, batch_id, threshold=ST14_THRESHOLD
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    return store.read("verdicts").drop("__batch_id")


def incremental_dedup_fold(
    store,
    batch_df: DataFrame,
    batch_id: int,
    *,
    threshold: float,
    verdict_fn=None,
) -> None:
    """One micro-batch of dedup-on-ingest, idempotent at EVERY crash
    point of foreachBatch's at-least-once replay contract.

    The fold makes three TableStore commits (verdicts, corpus, txn) —
    not atomic as a group, so a crash can leave any prefix committed.
    Idempotency therefore cannot rest on the txn stamp alone (that
    guard only covers whole-fold replays — the r5 ADVICE finding).
    Instead, every row this fold writes carries ``__batch_id``, and a
    replay FIRST discards whatever rows a torn predecessor left for
    this batch in either table, then recomputes them from the same
    inputs: replay-after-crash converges to exactly the
    clean-execution state no matter which commit the crash followed.
    The txn stamp remains as the cheap fast path for fully-committed
    folds, written LAST so it can never claim an incomplete fold.
    (Independently, incremental_lsh_dedup anti-joins hist against the
    batch, so even a fully-folded corpus replayed from scratch cannot
    self-match the batch.)
    """
    from etl_notifier_pipeline_spark.extensions import dedup as D

    if verdict_fn is None:
        def verdict_fn(hist, batch):  # default: text LSH (st14/d13)
            return D.incremental_lsh_dedup(hist, batch, threshold=threshold)

    spark = batch_df.sparkSession
    bid = int(batch_id)
    if store.exists("txn") and bid <= store.read("txn").head()[0]:
        return  # fully-committed fold: nothing to redo
    stamp = F.lit(bid).alias("__batch_id")
    if store.exists("corpus"):
        corpus = store.read("corpus").filter(F.col("__batch_id") != bid)
        hist = corpus.drop("__batch_id")
    else:
        corpus, hist = None, batch_df.limit(0)
    verdict = verdict_fn(hist, batch_df).select("*", stamp)
    if store.exists("verdicts"):
        verdict = (
            store.read("verdicts")
            .filter(F.col("__batch_id") != bid)
            .unionByName(verdict)
        )
    store.overwrite("verdicts", verdict)
    stamped_batch = batch_df.select("*", stamp)
    store.overwrite(
        "corpus",
        stamped_batch if corpus is None else corpus.unionByName(stamped_batch),
    )
    store.overwrite(
        "txn", spark.createDataFrame([(bid,)], "last_batch_id long")
    )


# st15's arrival schedule mirrors st14 on the EMBEDDINGS table: four
# micro-batches, batch k = vectors with vec_id % 4 == k, in k order.
ST15_N_BATCHES = 4
ST15_THRESHOLD = 0.85


def _st15_oracle() -> str:
    from etl_notifier_pipeline_spark.plans.ext_sim import _COS

    cos = _COS.format(a="b.embedding", b="h.embedding")
    return f"""
WITH scored AS (
  SELECT b.vec_id AS b_id, h.vec_id AS h_id, {cos} AS cos
  FROM embeddings b JOIN embeddings h
    ON (b.vec_id % {ST15_N_BATCHES}) > (h.vec_id % {ST15_N_BATCHES})
),
m AS (
  SELECT b_id, COUNT(*) AS n_matches,
         MIN(h_id ORDER BY cos DESC, h_id) AS best_match_id,
         MAX(cos) AS best_cos
  FROM scored WHERE cos >= {ST15_THRESHOLD}
  GROUP BY b_id
)
SELECT e.vec_id,
       COALESCE(m.n_matches, 0) AS n_matches,
       m.best_match_id,
       m.best_cos,
       m.b_id IS NULL AS is_novel
FROM embeddings e
LEFT JOIN m ON m.b_id = e.vec_id
"""


@register(
    "st15_streaming_semantic_dedup",
    category="streaming",
    oracle=_st15_oracle(),
)
def st15_streaming_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding dedup-on-ingest: s13's exact incremental semantic
    verdict run inside a REAL foreachBatch stream — four genuine
    micro-batches of vectors, each scored against the corpus
    accumulated from all EARLIER batches, verdicts appended, batch
    folded into the corpus. Reuses :func:`incremental_dedup_fold`
    verbatim with the cosine verdict function, so the
    crash-at-any-commit-point idempotency guarantees (batch_id row
    stamps + torn-predecessor discard) carry over to the vector
    pipeline without new replay logic. The drained verdict table must
    hash-equal a DuckDB twin that replays the arrival schedule
    declaratively (matches only where the candidate's batch index is
    strictly smaller)."""
    import os as _os
    import tempfile

    from etl_notifier_pipeline_spark.extensions import similarity as S
    from etl_notifier_pipeline_spark.storage import TableStore, _as_nullable

    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="st15_")
    src = f"{tmp}/src"
    _os.makedirs(src)
    now = int(__import__("time").time())
    for k in range(ST15_N_BATCHES):
        path = f"{src}/b{k}.parquet"
        emb.filter(F.col("vec_id") % ST15_N_BATCHES == k).coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        for root, _dirs, files in _os.walk(path):
            for fn in files:
                _os.utime(_os.path.join(root, fn), (now + k, now + k))
        _os.utime(path, (now + k, now + k))
    schema = _as_nullable(emb.schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*.parquet")
    )
    store = TableStore(spark, f"{tmp}/store")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        incremental_dedup_fold(
            store,
            batch_df,
            batch_id,
            threshold=ST15_THRESHOLD,
            verdict_fn=lambda hist, batch: S.incremental_semantic_dedup(
                hist, batch, threshold=ST15_THRESHOLD
            ),
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    return store.read("verdicts").drop("__batch_id")


@register(
    "st16_streaming_cdc_replication",
    category="streaming",
    oracle="""
WITH ev AS (SELECT event_id, user_id, event_type,
                   CAST(value AS DOUBLE) AS value FROM events),
s1 AS (
  SELECT event_id, user_id, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_type = 'purchase') WHERE rn = 1
),
last_click AS (
  SELECT event_id, user_id, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_type = 'click') WHERE rn = 1
),
s2 AS (
  SELECT t.* FROM s1 t
  WHERE NOT EXISTS (SELECT 1 FROM last_click l WHERE l.user_id = t.user_id)
  UNION ALL
  SELECT * FROM last_click
),
s3 AS (
  SELECT * FROM s2 t
  WHERE NOT EXISTS (
    SELECT 1 FROM ev d WHERE d.event_type = 'error' AND d.user_id = t.user_id
       AND d.user_id % 3 = 0)
)
SELECT event_id, user_id, event_type, value FROM s3
""",
)
def st16_streaming_cdc_replication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC REPLICATION as a stream — Delta's ``readStream`` with
    ``readChangeFeed`` plus DLT's APPLY CHANGES INTO, on the engine's
    own store: a source table takes three commits (v1 = last purchase
    per user; v2 = click MERGE; v3 = error-user delete — m13's exact
    history), and a replica on a SEPARATE store is maintained purely
    from the change feed: seeded with the v1 snapshot (initial load),
    then each micro-batch consumes exactly ONE pending commit's feed
    rows and folds them with ``apply_change_feed`` (insert/update
    upserts, delete drops — latest change per key wins). Per-commit
    feed cost is O(changes) (write-path fast paths in
    ``operators/mutations.change_feed``), the replica never re-reads
    the source table after the seed, and the fold carries st13's
    txn-id idempotency (a replayed micro-batch is skipped, not
    double-applied). The drained replica must hash-equal the oracle's
    replayed final state — CDC replication converging to the source
    is the operator's defining contract."""
    import tempfile

    from etl_notifier_pipeline_spark.operators import change_feed
    from etl_notifier_pipeline_spark.operators.mutations import (
        apply_change_feed,
        delete_by_keys,
        upsert,
    )
    from etl_notifier_pipeline_spark.storage import TableStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    w = W.partitionBy("user_id").orderBy(F.col("event_id").desc())
    s1 = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    s2 = upsert(
        s1, ev.filter(F.col("event_type") == "click"), ["user_id"], ["event_id"]
    )
    s3 = delete_by_keys(
        s2,
        ev.filter(
            (F.col("event_type") == "error") & (F.col("user_id") % 3 == 0)
        ).select("user_id"),
        ["user_id"],
    )
    tmp = tempfile.mkdtemp(prefix="st16_")
    src_store = TableStore(spark, f"{tmp}/src", retain_versions=3)
    for state in (s1, s2, s3):
        src_store.overwrite("t", state)
    replica = TableStore(spark, f"{tmp}/replica")
    replica.overwrite("r", src_store.read("t", version=1))  # initial load
    replica.overwrite(
        "r_txn",
        spark.createDataFrame(
            [(1, -1)], "replicated_version int, last_batch_id long"
        ),
    )

    # tick stream: one file per pending commit; maxFilesPerTrigger=1
    # makes each micro-batch consume exactly one commit's feed
    ticks = f"{tmp}/ticks"
    for i in range(2):
        spark.createDataFrame([(i,)], "tick int").coalesce(1).write.mode(
            "append"
        ).parquet(ticks)
    stream = (
        spark.readStream.schema("tick int")
        .option("maxFilesPerTrigger", 1)
        .parquet(ticks)
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        txn = replica.read("r_txn").head()
        if batch_id <= txn["last_batch_id"]:
            return  # replayed micro-batch: already applied
        cur = txn["replicated_version"]
        if cur >= src_store.current_version("t"):
            return  # tick with nothing pending
        feed = change_feed(
            src_store, "t", ["user_id"], from_version=cur, to_version=cur + 1
        )
        replica.overwrite(
            "r", apply_change_feed(replica.read("r"), feed, ["user_id"])
        )
        replica.overwrite(
            "r_txn",
            spark.createDataFrame(
                [(cur + 1, int(batch_id))],
                "replicated_version int, last_batch_id long",
            ),
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    return replica.read("r").select("event_id", "user_id", "event_type", "value")


def read_batch_dirs(spark: SparkSession, root: str, schema: StructType) -> DataFrame:
    """The ``b<batch_id>`` parquet directories a ``foreachBatch`` fold
    wrote under ``root``, listed on the driver and read with ``schema``:
    no glob for the sink-metadata probe to miss, no schema inference,
    no Spark job."""
    import os as _os

    dirs = sorted(_os.path.join(root, d) for d in _os.listdir(root) if d.startswith("b"))
    return spark.read.schema(schema).parquet(*dirs)


@register(
    "st17_streaming_vector_serve",
    category="streaming",
    oracle="""
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (list_reduce(list_transform(range(1, 65),
            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
            (x, y) -> x + y)
          / (sqrt(list_reduce(list_transform(range(1, 65),
               i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE),
               (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, 65),
               i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
               (x, y) -> x + y)))) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY (list_reduce(list_transform(range(1, 65),
               i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                  i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE),
                  (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                  i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
                  (x, y) -> x + y)))) DESC,
             c.vec_id) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
    AND (c.vec_id % 7) NOT IN (1, 2, 3)
) WHERE rank <= 5
""",
)
def st17_streaming_vector_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vector-store freshness under a LIVE delete stream: the IVF
    index is built once; delete-key micro-batches then arrive through
    a REAL foreachBatch stream (file source, maxFilesPerTrigger=1,
    AvailableNow) and each fold lands its keys as a tombstone parquet
    — an O(batch) write, idempotent under at-least-once replay
    because each batch OVERWRITES its own batch-id path. Serving
    reads the union of tombstone files as the ``ivf_query`` exclude
    mask, so every drained delete is reflected without an index
    rebuild. At full probe the serve is exact, which makes a
    STREAMING pipeline value-hash checkable: the result must equal
    brute force over corpus-minus-streamed-deletes (and because the
    mask is a union, the answer is independent of batch arrival
    order — the property that makes the oracle well-defined). At
    100 TB this is the serving tier's delete path: stream in, one
    small parquet per batch, broadcast anti-join at query time,
    compaction policy decides when to rebuild."""
    import os as _os
    import tempfile
    import time as _time

    from etl_notifier_pipeline_spark.extensions import similarity as S
    from etl_notifier_pipeline_spark.storage import _as_nullable

    emb = load_table(spark, sf_dir, "embeddings")
    index, params = S.ivf_build(emb, n_cells=4)
    tmp = tempfile.mkdtemp(prefix="st17_")
    src = f"{tmp}/src"
    _os.makedirs(src)
    now = int(_time.time())
    for k in (1, 2, 3):
        path = f"{src}/b{k}.parquet"
        emb.filter(F.col("vec_id") % 7 == k).select("vec_id").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        for root, _dirs, files in _os.walk(path):
            for fn in files:
                _os.utime(_os.path.join(root, fn), (now + k, now + k))
        _os.utime(path, (now + k, now + k))
    schema = _as_nullable(emb.select("vec_id").schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*.parquet")
    )
    tomb_dir = f"{tmp}/tombs"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{tomb_dir}/b{batch_id}")

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    tombs = read_batch_dirs(spark, tomb_dir, schema)
    queries = emb.filter(F.col("vec_id") < 8)
    return S.ivf_query(index, params, queries, k=5, n_probe=4, exclude=tombs)
