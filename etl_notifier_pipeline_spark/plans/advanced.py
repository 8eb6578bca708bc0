"""Advanced relational + approximate + multimodal queries: as-of join,
list aggregation, exact distributed median, grouping sets (SQL API),
range window frames, unpivot, approximate distinct, ANN, stateful
streaming, multimodal feature plumbing.

The approximate operators (HLL distinct, hyperplane-LSH ANN) and the
pandas/stateful ones register without oracles — their driver check is
rows-only; their value-level guarantees live in tests/ as property
tests (recall bounds, error bounds) instead of equality.
"""

from __future__ import annotations

from etl_notifier_pipeline_spark.caching import tracked_persist
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table, register_views
from etl_notifier_pipeline_spark.extensions import multimodal as MM
from etl_notifier_pipeline_spark.extensions import similarity as S
from etl_notifier_pipeline_spark.operators.asof import asof_join
from etl_notifier_pipeline_spark.functions.scalar import ts_micros
from etl_notifier_pipeline_spark.plans.registry import register

VAL = "decimal(10,2)"


@register(
    "q22_collect_sets",
    category="aggregation",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       COUNT(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
""",
)
def q22_collect_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + deterministic ordering (SURVEY §2.4 absent list).
    Emitted as a sorted joined string — set aggregation is only
    oracle-comparable after imposing an order."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "q23_asof_join",
    category="join",
    oracle="""
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       o.o_orderkey AS last_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS last_totalprice
FROM events e
ASOF LEFT JOIN (
  SELECT o_custkey, o_orderkey, o_totalprice,
         -- unique per (custkey, ts): synthetic strictly-ordered time
         o_orderdate + INTERVAL (o_orderkey % 86400) SECOND AS ots
  FROM orders
) o ON e.user_id = o.o_custkey AND o.ots <= e.ts
""",
)
def q23_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (SURVEY §2.3 absent list): each event picks
    the latest order of the same customer at-or-before its timestamp.
    Spark lacks a native ASOF; the engine composes one from a union
    and a running window (operators/asof.py). Oracle: DuckDB's native
    ASOF JOIN. Order times are de-duplicated with a
    deterministic second-offset so 'latest' is unambiguous on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_totalprice",
        (
            F.col("o_orderdate")
            + F.make_interval(secs=(F.col("o_orderkey") % 86400).cast("double"))
        ).alias("ots"),
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        o,
        on=["user_id"],
        left_time="ts",
        right_time="ots",
        right_values=["o_orderkey", "o_totalprice"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").cast("double").alias("last_totalprice"),
    )


@register(
    "q24_exact_median",
    category="aggregation",
    oracle="""
WITH ranked AS (
  SELECT event_type, CAST(value AS DECIMAL(10,2)) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
)
SELECT event_type,
       CAST(SUM(v) AS DOUBLE) / COUNT(*) AS median_value
FROM ranked
WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
GROUP BY event_type
""",
)
def q24_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed median via rank-and-pick (SURVEY §2.6 top-k
    family): sort-free interpolation arithmetic is done in decimal so
    both engines agree bit-for-bit (library percentile()s interpolate
    in double with engine-specific expression shapes)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        F.col("value").cast(VAL).alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("cnt"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2))
    )
    return mid.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("median_value")
    )


@register(
    "q25_grouping_sets",
    category="aggregation",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q25_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + GROUPING() markers through the SQL API
    (the engine's SQL surface is the same Catalyst plan as the
    DataFrame surface)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "q26_range_frame",
    category="window",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(10,2)))
         OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS value_last_hour
FROM events
""",
)
def q26_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event-time (trailing 1-hour sum per
    user) — the windowed form of a sliding aggregate; decimal sums keep
    every frame exact."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(VAL)).over(w).cast("double").alias("value_last_hour"),
    )


@register(
    "q27_unpivot",
    category="set_ops",
    oracle="""
SELECT l_returnflag, metric,
       CAST(SUM(CAST(val AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM (
  SELECT l_returnflag, 'quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'price' AS metric, l_extendedprice AS val FROM lineitem
)
GROUP BY l_returnflag, metric
""",
)
def q27_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — wide metrics to long (melt), then agg."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(2, 'quantity', l_quantity, 'price', l_extendedprice) AS (metric, val)"
        ),
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.sum(F.col("val").cast("decimal(12,2)")).cast("double").alias("total")
    )


@register(
    "q29_full_outer_join",
    category="join",
    oracle="""
SELECT COALESCE(s.user_id, p.user_id) AS user_id,
       COALESCE(s.n_signups, 0) AS n_signups,
       COALESCE(p.n_purchases, 0) AS n_purchases
FROM (SELECT user_id, COUNT(*) AS n_signups FROM events
      WHERE event_type = 'signup' GROUP BY user_id) s
FULL OUTER JOIN
     (SELECT user_id, COUNT(*) AS n_purchases FROM events
      WHERE event_type = 'purchase' GROUP BY user_id) p
  ON s.user_id = p.user_id
""",
)
def q29_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with COALESCE'd keys (SURVEY §2.3 absent list:
    outer family). Outer joins can't broadcast either side whole — this
    is the sort-merge shape, both sides pre-aggregated so the shuffle
    carries one row per user."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_signups"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = s.withColumnRenamed("user_id", "s_uid").join(
        p.withColumnRenamed("user_id", "p_uid"),
        F.col("s_uid") == F.col("p_uid"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("s_uid", "p_uid").alias("user_id"),
        F.coalesce("n_signups", F.lit(0)).alias("n_signups"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


@register(
    "q30_distinct_rows",
    category="set_ops",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def q30_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates / SELECT DISTINCT (SURVEY §2.7) — hash-agg on the
    full projection, partial-dedup map-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


@register(
    "x06_edit_distance",
    category="text_analysis",
    oracle="""
SELECT a.lang AS lang_a, b.lang AS lang_b,
       levenshtein(a.lang, b.lang) AS lev
FROM (SELECT DISTINCT lang FROM documents) a
JOIN (SELECT DISTINCT lang FROM documents) b ON a.lang < b.lang
""",
)
def x06_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance over a deduplicated key domain — the
    fuzzy-matching primitive (entity resolution on short keys; for long
    text the n-gram/MinHash family above is the scale path)."""
    d = load_table(spark, sf_dir, "documents").select("lang").distinct()
    a = d.select(F.col("lang").alias("lang_a"))
    b = d.select(F.col("lang").alias("lang_b"))
    return (
        a.join(b, F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a", "lang_b", F.levenshtein("lang_a", "lang_b").alias("lev")
        )
    )


@register(
    "q31_rank_family",
    category="window",
    oracle="""
SELECT o_orderkey, o_custkey,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST() OVER w AS cdist,
       NTILE(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def q31_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ranking-function family in one window (SURVEY
    §2.5): row_number / rank / dense_rank / percent_rank / cume_dist /
    ntile. percent_rank and cume_dist are int-ratio doubles — exact on
    both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q32_map_functions",
    category="scalar",
    oracle="""
SELECT event_id,
       'k' AS first_key,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
""",
)
def q32_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (SURVEY §2.8 absent list): JSON -> typed map via
    from_json, map_keys/element access, arithmetic on values, filter on
    the extracted value (pushed below the projection by Catalyst)."""
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    withmap = ev.select("event_id", m.alias("m"))
    return (
        withmap.select(
            "event_id",
            F.element_at(F.map_keys("m"), 1).alias("first_key"),
            F.element_at("m", "k").alias("k_value"),
            (F.element_at("m", "k") % 10).alias("k_mod"),
        )
        .filter(F.col("k_value") > 50)
    )


@register(
    "st06_approval_pipeline_sim",
    category="streaming",
    # The lifecycle's outcome is ANALYTICALLY derivable from the
    # scripted events, independent of sf_dir (c_custkey is unique, so
    # only key COUNTS matter): insert 30 rows; approved upsert of keys
    # 20-39 updates 10 + inserts 10 (-> 40); a rejected update changes
    # nothing; an approved two-phase delete of keys 0-4 drains -> 35
    # surviving. Ledger: 3 approved, 1 rejected. The literal pin (the
    # xm01 contract pattern) puts the whole TableStore/Ledger/
    # ApprovalPipeline side-effect chain under the hash gate — a
    # dropped upsert leg, an undrained delete, or a status
    # misrecording all flip a literal (verified stable across
    # sf0.001/0.01/0.1).
    oracle="""
SELECT * FROM (VALUES
  ('approved', CAST(3 AS BIGINT), CAST(35 AS BIGINT)),
  ('rejected', CAST(1 AS BIGINT), CAST(35 AS BIGINT))
) AS t(status, n, surviving_rows)
""",
)
def st06_approval_pipeline_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full EP1->EP4 lifecycle (SURVEY §3) as one
    simulation: CSV files derived from the customer fixture arrive,
    get pending ledger rows, an approval stream (insert -> upsert ->
    reject -> two-phase delete) drives foreachBatch-style batches, the
    delete queue drains, and the final ledger + table state comes back
    as (status, n) counts plus surviving-row count — oracle-paired
    since r12 against the analytically-derived literal outcome (see
    the oracle comment)."""
    import tempfile

    from etl_notifier_pipeline_spark.streaming import ApprovalPipeline, LogNotifier

    tmp = tempfile.mkdtemp(prefix="st06_")
    csv_root = f"{tmp}/bucket"
    import os

    os.makedirs(csv_root, exist_ok=True)
    cust = load_table(spark, sf_dir, "customer").limit(50)
    pdf = cust.select(
        F.col("c_custkey").cast("string").alias("ckey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
    ).toPandas()
    pdf.iloc[:30].to_csv(f"{csv_root}/cust.csv", index=False)
    upd = pdf.iloc[20:40].copy()
    upd["seg"] = "UPDATED"
    upd.to_csv(f"{csv_root}/cust_upd.csv", index=False)
    pdf.iloc[:5].to_csv(f"{csv_root}/cust_del.csv", index=False)

    # Default store: BucketedTableStore at store_root — the sim runs
    # the same incremental keyed-mutation path a production pipeline
    # would (O(affected buckets) per approved event).
    pipe = ApprovalPipeline(
        spark=spark, notifier=LogNotifier(),
        keys={"cust": ["ckey"]}, csv_root=csv_root,
        store_root=f"{tmp}/store",
    )
    arrivals = spark.createDataFrame(
        [
            ("cust.csv", "ev1", "b", "insert"),
            ("cust_upd.csv", "ev2", "b", "update"),
            ("cust_upd.csv", "ev3", "b", "update"),
            ("cust_del.csv", "ev4", "b", "delete"),
        ],
        ["file_name", "event_id", "bucket", "operation"],
    )
    pipe.ledger.record_arrivals(arrivals)

    def approval(eid, action, fname, op):
        from etl_notifier_pipeline_spark.streaming.pipeline import approval_event_schema

        row = {
            "event_id": eid, "action": action, "file_name": fname,
            "table_name": "cust", "operation": op, "bucket": "b",
            "file_version": "1", "provided_timestamp": None,
            "approval_timestamp": "2026-01-01T00:00:00Z", "remote_address": None,
        }
        return spark.createDataFrame(
            [tuple(row[f.name] for f in approval_event_schema().fields)],
            approval_event_schema(),
        )

    pipe.run_batch(approval("ev1", "approve", "cust.csv", "insert"))
    pipe.run_batch(approval("ev2", "approve", "cust_upd.csv", "update"))
    pipe.run_batch(approval("ev3", "reject", "cust_upd.csv", "update"))
    pipe.run_batch(approval("ev4", "approve", "cust_del.csv", "delete"))
    pipe.drain_deletes()

    statuses = pipe.ledger.processed_files().groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )
    surviving = pipe.store.read("cust").count()
    return statuses.withColumn(
        "surviving_rows", F.lit(surviving).cast("long")
    )


@register("q28_approx_distinct", category="aggregation", oracle=None)
def q28_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per event_type — approximate by
    design, so no value oracle (rows-only; the <=2% error bound vs
    exact countDistinct is a property test in tests/test_advanced.py,
    and q83 oracle-pairs the 4-sigma error contract)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@register("s03_ann_lsh_topk", category="similarity", oracle=None)
def s03_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucket filter +
    exact rerank (the scale path next to s01's brute force). Rows-only
    check; recall-vs-bruteforce is a property test."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.ann_lsh_topk(emb, queries, k=5, n_planes=3, n_tables=6)


@register(
    "xm01_multimodal_features",
    category="multimodal",
    oracle="""
SELECT * FROM (VALUES
  (1000000, 'png',  16, 16, 1, TRUE),
  (1000001, 'png',  12, 20, 1, TRUE),
  (1000002, 'png',  16, 16, 3, TRUE),
  (1000003, 'png',  10, 10, 3, TRUE),
  (1000004, 'png',  16, 16, 1, TRUE),
  (1000005, 'png',  16, 16, 1, TRUE),
  (1000006, 'png',  16, 16, 1, TRUE),
  (1000007, 'png',  20, 12, 3, TRUE),
  (1000008, 'jpeg', 32, 32, 1, TRUE),
  (1000009, 'jpeg', 32, 32, 1, TRUE),
  (1000010, 'jpeg', 32, 32, 1, TRUE),
  (1000011, 'jpeg', 32, 32, 1, TRUE),
  (1000012, 'jpeg', 32, 32, 3, TRUE),
  (1000013, 'jpeg', 32, 32, 3, TRUE),
  (1000014, 'jpeg', 36, 20, 3, TRUE),
  (1000015, 'jpeg', 36, 20, 3, TRUE),
  (1000016, 'jpeg', 40, 28, 3, TRUE),
  (1000017, 'jpeg', 40, 28, 3, TRUE)
) AS t(media_id, container, width, height, n_components, pixels_complete)
""",
)
def xm01_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode under the VALUE-HASH gate (r10 verdict ask #4, the
    q81/q82 contract-fact pattern): the 18 committed genuine fixtures
    (8 PNGs + 10 JPEGs — baseline gray/color, 4:2:0 subsampled,
    progressive — tests/fixtures/media) ride the real ``binaryFile``
    source into one Arrow-batched FULL decode
    (``multimodal.image_decode_facts``, stdlib codecs only, never
    PIL) emitting deterministic facts the oracle re-states as
    literals: container, decoded width/height/n_components, and
    pixels_complete (decoder produced exactly w*h*nc samples). The
    driver's bit-exact compare fails iff a codec stops decoding a
    fixture, changes its geometry, or returns a short pixel buffer —
    the codec itself is on the hook, not just the plumbing. The
    codec-DEPENDENT features (pooled pixel stats) stay rows-only in
    xm03; the undecodable-input total-function contract is a unit
    test (test_image_decode_facts_total_on_undecodable).

    Scale shape: one Arrow pass over byte-budget partitions; only
    (id, 5 scalars) rows leave the decode stage, never blobs."""
    media = MM.media_from_dir(spark, MM.MEDIA_FIXTURE_DIR)
    return MM.image_decode_facts(media).orderBy("media_id")


@register(
    "st05_stateful_running_totals",
    category="streaming",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
)
def st05_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals maintained in explicit state across
    micro-batches. VALUE-checked: state accumulates integer cents
    (order-independent, exact), so the drained final state is
    bit-equal to the decimal-sum SQL oracle regardless of batch
    splits; cross-batch accumulation asserted in
    tests/test_advanced.py."""
    import uuid

    from etl_notifier_pipeline_spark.streaming.stateful import running_user_totals
    from etl_notifier_pipeline_spark.streaming.windows import (
        run_stream_to_table,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    out = running_user_totals(ev)
    name = f"st05_out_{uuid.uuid4().hex[:8]}"
    result = run_stream_to_table(out, spark, name, output_mode="update")
    # update-mode memory sink may hold multiple emissions per user
    # (one per batch); the final state is the last row per user.
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        result.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register("s04_ivf_topk", category="similarity", oracle=None)
def s04_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer (seeded Lloyd
    centroids, nearest-cell assignment, n_probe-cell search + exact
    cosine rerank) — the cluster-pruning scale path next to s03's LSH.
    Rows-only check; recall-vs-bruteforce is a property test."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)


@register(
    "xm02_frame_schedule",
    category="multimodal",
    oracle="""
SELECT doc_id AS media_id,
       unnest(range(0, greatest(CAST(n_chars AS BIGINT) - 1, 0) + 1, 250))
         AS frame_ms
FROM documents
WHERE doc_id % 3 = 0
""",
)
def xm02_frame_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4's metadata-driven frame-sampling SCHEDULE, value-checked:
    duration metadata -> JVM sequence+explode of frame offsets. The
    decoder half stays a rows-only check (xm01); this pins the
    distributed planning half — the part that determines 100 TB cost —
    to an exact oracle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("modality"),
        F.struct(F.col("n_chars").cast("long").alias("duration_ms")).alias("meta"),
    )
    return MM.frame_schedule(media, every_ms=250)


@register("q39_approx_quantiles", category="aggregation", oracle=None)
def q39_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch) p50/p95/p99 of value
    per event_type — the mergeable-sketch path for quantiles at 100 TB
    (exact sort-based percentile in q24 is the small-data twin).
    Approximate by design -> rows-only; the error bound vs exact
    percentile is a property test."""
    ev = load_table(spark, sf_dir, "events")
    # ONE sketch serving all three percentiles (a percentage array),
    # not three independent aggregation buffers — at 100 TB the
    # sketch-merge traffic is the cost that matters.
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    return (
        ev.groupBy("event_type")
        .agg(q.alias("qs"))
        .select(
            "event_type",
            F.col("qs").getItem(0).alias("p50"),
            F.col("qs").getItem(1).alias("p95"),
            F.col("qs").getItem(2).alias("p99"),
        )
    )


@register(
    "q82_quantile_error_bound",
    category="aggregation",
    oracle="""
SELECT event_type, p, COUNT(*) AS n,
       TRUE AS is_element, TRUE AS within_bound
FROM events, (SELECT unnest([0.5, 0.95, 0.99]) AS p) probs
WHERE value IS NOT NULL
GROUP BY event_type, p
""",
)
def q82_quantile_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q39's quantile sketch with its error contract IN the result
    (q81's pattern applied to Greenwald-Khanna): for each returned
    percentile v, one extra fact pass counts rank brackets
    lt = |value < v| and le = |value <= v|, and the result asserts
    (a) v is an actual element of the group (le > lt — GK returns data
    points, not interpolations) and (b) v's rank interval intersects
    [floor((p-e)n)-1, ceil((p+e)n)+1] with e = 1/accuracy — the
    sketch's published rank guarantee plus one rank of slack for the
    rank-definition convention. The DuckDB oracle emits literal TRUE,
    so the driver's value-hash compare fails iff the sketch breaks its
    contract; raw estimates stay visible in rows-only q39.

    Scale shape: the sketch pass is q39's (one mergeable GK buffer per
    group serving all three percentiles); the verify pass broadcasts
    the |groups| x 3 (p, v) frame and scans the fact once with
    conditional-sum partial aggs — no sort, no window."""
    probs, acc = [0.5, 0.95, 0.99], 10000
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx("value", probs, acc).alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    pv = sk.select(
        "event_type", "n", F.posexplode("qs").alias("i", "v")
    ).withColumn(
        "p", F.element_at(F.array(*[F.lit(p) for p in probs]), F.col("i") + 1)
    )
    ranks = (
        ev.select("event_type", "value")
        .join(F.broadcast(pv), "event_type")
        .groupBy("event_type", "p", "n", "v")
        .agg(
            F.sum(F.when(F.col("value") < F.col("v"), 1).otherwise(0)).alias("lt"),
            F.sum(F.when(F.col("value") <= F.col("v"), 1).otherwise(0)).alias("le"),
        )
    )
    e = 1.0 / acc
    lo = F.floor((F.col("p") - e) * F.col("n")) - 1
    hi = F.ceil((F.col("p") + e) * F.col("n")) + 1
    return ranks.select(
        "event_type",
        "p",
        "n",
        (F.col("le") > F.col("lt")).alias("is_element"),
        ((F.col("lt") + 1 <= hi) & (F.col("le") >= lo)).alias("within_bound"),
    )


@register(
    "q83_approx_distinct_error_bound",
    category="aggregation",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def q83_approx_distinct_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q28's HLL++ estimator with its error contract IN the result
    (q81/q82's pattern, completing the approximate-family trio): the
    estimate must land within |est - exact| <= max(5, 4 * rsd * exact)
    for rsd = 0.02 — a 4-sigma envelope, so a pass is an accuracy
    statement about the sketch, not a tautology — and the DuckDB twin
    emits the exact counts plus literal TRUE. Raw estimates stay
    visible in rows-only q28.

    Scale shape: q28's — one mergeable HLL++ buffer per group, map-side
    partial merge; the exact countDistinct rides the same shuffle."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    )
    err = F.abs(F.col("est") - F.col("exact"))
    bound = F.greatest(F.lit(5.0), F.lit(4 * rsd) * F.col("exact"))
    return agg.select(
        "event_type", "exact", (err <= bound).alias("within_bound")
    )


@register(
    "q63_value_window_family",
    category="window",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       CAST(FIRST_VALUE(o_totalprice) OVER w AS DOUBLE) AS cheapest,
       CAST(LAST_VALUE(o_totalprice) OVER (
         PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS DOUBLE) AS priciest,
       CAST(NTH_VALUE(o_totalprice, 2) OVER (
         PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS DOUBLE) AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def q63_value_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-window family (SURVEY §2.5 completion): first_value /
    last_value / nth_value per status partition. last_value and
    nth_value run over the FULL-frame window (the default
    running-frame last_value is just the current row — the classic
    window trap, stated explicitly in both engines); ordering is
    tie-broken on the key so every function is deterministic."""
    o = load_table(spark, sf_dir, "orders")
    run = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    full = run.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.first_value("o_totalprice").over(run).alias("cheapest"),
        F.last_value("o_totalprice").over(full).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_cheapest"),
    )


@register(
    "q65_locf_gap_fill",
    category="window",
    oracle="""
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS carried_value
FROM events
""",
)
def q65_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill (IGNORE NULLS window
    semantics — §2.5's last uncovered modifier): each event carries the
    user's most recent purchase value forward; rows before the first
    purchase stay NULL. The standard time-series imputation op, and
    the building block of as-of snapshotting without a join.

    Scale shape: one window over (user, time) — a single shuffle on
    user_id, running frame, no self-join and no fact re-scan (the
    join-based alternative, q23's as-of, shuffles twice). Values pass
    through untouched (no reduction), so doubles are bit-exact."""
    ev = load_table(spark, sf_dir, "events")
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        purchase_val.alias("purchase_value"),
        F.last(purchase_val, ignorenulls=True).over(w).alias("carried_value"),
    )


@register("s09_semantic_dedup", category="similarity", oracle=None)
def s09_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped embedding dedup: IVF-cell blocking, intra-cell
    cosine near-dup pairs (Arrow matmul per cell), greedy lowest-id
    survivor. Rows-only (the quantizer is not SQL-expressible); the
    no-surviving-near-dup-pair and degenerate-one-cell-equals-exact
    invariants are property tests in tests/test_advanced.py.

    Cell count scales with the corpus (n_cells=None sizes cells to a
    constant target), keeping intra-cell pair work per vector constant
    — the fixed n_cells=8 this query started with was measured
    quadratic at sf1 (see extensions/similarity.semantic_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, threshold=0.9)


@register("xm03_media_near_dup", category="multimodal", oracle=None)
def xm03_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal -> similarity composition: opaque media bytes ->
    Arrow-batched deterministic feature extraction (extensions.
    multimodal) -> exact cosine top-3 media neighbors for 8 probe
    items — the near-duplicate-media audit (think frame/image dedup
    before training). Rows-only: the codec half has no SQL twin; the
    duplicate-content => cos_sim == 1.0 invariant is a property test.

    The committed genuine-PNG fixture rides along (codec="auto": PNG
    rows decode for REAL — the fixture's exact-duplicate pair must
    land cos 1.0 from actually-decoded pixels, pinned by a unit test;
    text-byte rows keep the deterministic fake).

    Scale shape: feature extraction is one Arrow pass over byte-budget
    partitions; the similarity stage broadcasts the 8 probes and scans
    the feature frame once (same audited plan as s01)."""
    import os as _os

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("modality"),
        F.encode("text", "utf-8").alias("content"),
    )
    if _os.path.isdir(MM.MEDIA_FIXTURE_DIR):
        media = media.unionByName(
            MM.media_from_dir(spark, MM.MEDIA_FIXTURE_DIR).select(
                "media_id", "modality", "content"
            )
        )
    # Persisted: the corpus leg and the broadcast probe leg would both
    # re-run the pandas decode otherwise (a filter cannot push below
    # mapInPandas) — decode once, reuse for both sides.
    feats = tracked_persist(MM.extract_features(media, codec="auto"))
    probes = feats.filter(
        (F.col("media_id") < 8) | (F.col("media_id") >= 1_000_000)
    )
    return S.topk_cosine(
        feats, probes, k=3, id_col="media_id", vec_col="features"
    )


_XM05_FEAT = (
    "list_transform(range(0, 16), i -> "
    "(16*(position(substr(sha256(COALESCE({t}, '')), 2*i+1, 1) "
    "IN '0123456789abcdef')-1) "
    "+ (position(substr(sha256(COALESCE({t}, '')), 2*i+2, 1) "
    "IN '0123456789abcdef')-1))::DOUBLE / 255.0)"
)
_XM05_DOT = (
    "list_reduce(list_transform(range(1, 17), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)
_XM05_NORM = (
    "sqrt(list_reduce(list_transform(range(1, 17), "
    "i -> {a}[i] * {a}[i]), (x, y) -> x + y))"
)
_XM05_COS = (
    f"({_XM05_DOT} / "
    f"({_XM05_NORM.format(a='{a}')} * {_XM05_NORM.format(a='{b}')}))"
)


@register(
    "xm05_media_near_dup_contract",
    category="multimodal",
    oracle=f"""
WITH feats AS (
  SELECT doc_id AS media_id, {_XM05_FEAT.format(t='text')} AS f
  FROM documents WHERE doc_id < 200
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
         {_XM05_COS.format(a='q.f', b='c.f')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.media_id
           ORDER BY {_XM05_COS.format(a='q.f', b='c.f')} DESC,
                    c.media_id) AS rank
  FROM feats q, feats c
  WHERE q.media_id < 8 AND c.media_id <> q.media_id
) WHERE rank <= 3
""",
)
def xm05_media_near_dup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xm03's oracle-paired twin at the FAKE-codec operating point
    (r12, the xm01 contract pattern applied to the near-dup
    composition): the deterministic stand-in feature is sha256 bytes
    / 255, which the DuckDB twin recomputes in SQL — so the whole
    multimodal->similarity PLUMBING is under the bit-exact hash gate:
    the Arrow mapInPandas batch shape, the (media_id, modality,
    features) schema, null-content handling, the persisted
    decode-once/two-leg reuse, and the s01-style broadcast top-k join
    with its fold arithmetic and tie-break. A features row lost to a
    batch boundary, a swapped id, or a rank drift all flip the hash.
    xm03 stays the real-codec operating point (genuine PNG/WAV decode
    facts are literal-pinned by xm01/xm04)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("modality"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = tracked_persist(MM.extract_features(media, codec="fake"))
    probes = feats.filter(F.col("media_id") < 8)
    return S.topk_cosine(
        feats, probes, k=3, id_col="media_id", vec_col="features"
    )


@register(
    "xm04_audio_stats",
    category="multimodal",
    oracle="""
SELECT * FROM (VALUES
  (1000018, 8000, 1, 16, 4000, 500, TRUE, 500),
  (1000019, 8000, 1, 16, 4000, 500, TRUE, 500),
  (1000020, 8000, 1, 16, 4000, 500, TRUE, 500),
  (1000021, 8000, 2, 16, 4000, 500, TRUE, 500),
  (1000022, 8000, 1, 16, 4000, 500, TRUE, 500)
) AS t(media_id, sample_rate, channels, bits_per_sample, n_frames,
       duration_ms, f0_in_envelope, n_undecodable)
""",
)
def xm04_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the VALUE-HASH gate (r10 verdict ask
    #4): the committed PCM WAV fixtures (tests/fixtures/media/snd_* —
    mono/stereo sine, seeded noise, an exact-duplicate pair) ride the
    binaryFile source with 500 documents.text audio stand-ins
    alongside. Header facts come from one Arrow pass over the RIFF
    chunks (``multimodal.audio_meta``); ``f0_in_envelope`` comes from
    the stdlib ``wavio`` SAMPLE decode (codec="auto" segment-RMS
    pooling): the 0.80/0.79-amplitude sine fixtures must land their
    first-segment RMS inside [0.5, 0.62] — a real accuracy statement
    about decoded samples (A/sqrt(2) = 0.566; a gain, offset, or
    channel-mixdown bug leaves the envelope) — while noise/stereo pin
    (0, 1). ``n_undecodable`` counts the text stand-ins whose header
    walk returned NULLs: the total-function contract measured through
    the same scan. The oracle re-states every fact as literals, so
    the driver's bit-exact compare exercises the codec, not just the
    plumbing.

    Scale shape: both passes are single Arrow scans over byte-budget
    partitions; the meta<->features join keys on media_id AFTER the
    binary column is dropped — only (id, scalars) rows shuffle, never
    blobs; the undecodable count rides a broadcast 1-row frame."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
    ).unionByName(
        MM.media_from_dir(spark, MM.MEDIA_FIXTURE_DIR)
        .filter(F.col("modality") == "audio")
        .select("media_id", "modality", "content")
    )
    meta = MM.audio_meta(media)
    feats = MM.extract_features(media, codec="auto")
    sine_ids = [1_000_018, 1_000_019, 1_000_022]
    f0 = F.element_at("features", 1)
    envelope = F.when(
        F.col("media_id").isin(sine_ids),
        (f0 >= 0.5) & (f0 <= 0.62),
    ).otherwise((f0 > 0.0) & (f0 < 1.0))
    undec = meta.filter(F.col("sample_rate").isNull()).agg(
        F.count(F.lit(1)).cast("int").alias("n_undecodable")
    )
    return (
        meta.filter(F.col("sample_rate").isNotNull())
        .join(feats.select("media_id", "features"), "media_id")
        .select(
            "media_id", "sample_rate", "channels", "bits_per_sample",
            "n_frames", "duration_ms", envelope.alias("f0_in_envelope"),
        )
        .crossJoin(F.broadcast(undec))
        .orderBy("media_id")
    )
