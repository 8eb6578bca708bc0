"""Event-time windowing helpers (SURVEY §2.9 'absent machinery' list).

Batch and streaming share these plans: tumbling/sliding via
``F.window``, sessions via ``F.session_window``, stream-side dedup via
``dropDuplicates`` under a watermark. The streaming entry reads the
events fixture through a real ``readStream`` file source, with the
catalog's declared events schema.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import SCHEMAS, table_path

VAL = "decimal(10,2)"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a streaming source, its schema pinned to the
    catalog's declared ``SCHEMAS["events"]`` (streaming file sources
    never infer, and building the stream launches no job).

    The file source needs a *directory*; the single-file driver
    fixture is staged into a temp dir via symlink (no data copy). An
    amplified fixture (tools/scale_up.py) is already a Spark-written
    parquet DIRECTORY and streams directly — symlinking it into a
    stage dir would nest it one level deep, where the file source
    finds zero files and silently streams nothing (caught by the r5
    sf10 run: st05 'finished' in 0.2s)."""
    path = table_path(sf_dir, "events")
    if os.path.isdir(path):
        stage = path
    else:
        stage = os.path.join(
            tempfile.gettempdir(), "spark_graft_stream", hashlib.md5(path.encode()).hexdigest()
        )
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
    return spark.readStream.schema(SCHEMAS["events"]).parquet(stage)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregate; exact decimal sums so the
    streaming result is hash-comparable to the batch/SQL oracle."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(VAL)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "30 minutes", slide: str = "15 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events are < gap apart; end = last event + gap (Spark semantics,
    mirrored by the gaps-and-islands oracle)."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(VAL)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            "session_value",
        )
    )


def run_stream_to_table(
    df: DataFrame, spark: SparkSession, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming aggregation to completion over the available
    data (Trigger.AvailableNow + memory sink) and return the result as
    a batch DataFrame — the harness-friendly way to exercise a real
    StreamExecution without a long-running query."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def cascaded_rollup(
    events: DataFrame,
    fine: str = "15 minutes",
    coarse: str = "1 hour",
) -> DataFrame:
    """Chained time-window aggregation (fine tumbling windows rolled up
    into coarse ones) — the hypertable-style cascade that keeps the
    expensive per-event aggregation at fine grain and derives coarse
    grain from |fine-windows| rows, not the raw stream.

    The second groupBy windows over ``F.window_time`` of the first
    window — the Spark 3.4+ form (SPARK-40925) that is legal in a
    SINGLE Structured Streaming query with two stateful operators
    (watermark propagates through; live form exercised in
    tests/test_streaming.py). In batch the same plan is two cheap
    aggregations: the coarse one reads the fine aggregate, never the
    events. ``n_subwindows`` (non-empty fine buckets per coarse
    window) is the cascade's observable: a flat re-aggregation of the
    raw stream cannot produce it.
    """
    m = events.groupBy(
        F.window("ts", fine).alias("w_fine"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(VAL)).alias("v"),
    )
    return (
        m.groupBy(
            F.window(F.window_time("w_fine"), coarse).alias("w"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("v").cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
            "n_subwindows",
        )
    )
