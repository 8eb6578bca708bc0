"""Relational core queries (SURVEY §2.1-2.8): scans, filters, projections,
joins, aggregations, windows, sorts/top-k, set ops, scalar functions.

Each query is the Spark-first expression of an operator family the
reference exercises (or that capability parity mandates), registered
with a DuckDB oracle. Scale notes are inline: every plan here is
shuffle-minimal — dims broadcast, aggregates partial+final, filters and
projections pushed into the parquet scan by Catalyst.

Determinism: money doubles -> DECIMAL before SUM (exact, order-free);
top-k always tie-broken on a unique key; timestamps emitted as strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table
from etl_notifier_pipeline_spark.functions.scalar import ts_micros
from etl_notifier_pipeline_spark.plans.registry import register

# Exact-decimal casts (fixture money/rate columns are 2-decimal clean).
MONEY = "decimal(12,2)"  # prices < 1e6
RATE = "decimal(4,2)"  # discount / tax in [0,1]

# Dim-side size above which q05 abandons the broadcast star for the
# executor-built shuffle-hash plan (driver builds are serial, and at
# 100x the dim exceeds any driver). 256 MB of parquet ~ a 30 M-row
# two-column build side; every driver fixture is far below it.
BROADCAST_DIM_LIMIT = 256 << 20


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a fixture table — the cheap stand-in
    for catalog size statistics a deployment would consult."""
    import os

    from etl_notifier_pipeline_spark.catalog import table_path

    p = table_path(sf_dir, name)
    if os.path.isfile(p):
        return os.path.getsize(p)
    if not os.path.isdir(p):
        return 0
    return sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
VAL = "decimal(10,2)"  # events.value < 1e4


def _m(c: str) -> F.Column:
    return F.col(c).cast(MONEY)


# ---------------------------------------------------------------------------
# Aggregation core (SURVEY §2.4 + flagship)
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    category="aggregation",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))
        * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(18,6))) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-shaped scan+filter+hash-agg over lineitem.

    Plan shape at scale: parquet scan with the shipdate filter pushed
    down, partial hash-agg per partition, single shuffle on the 2 (low
    cardinality) grouping keys, final agg — no other exchange.

    Decimal width note (evaluated, rejected alternative): casting to
    decimal(8,2) keeps the sum at decimal(18,2) — Spark's long-backed
    fast path, measured ~1.6x faster per aggregate at sf0.1 — but its
    1e16 capacity is exactly the per-group magnitude of a 100 TB q01
    (1e11 rows x 1e5 price), and non-ANSI decimal overflow returns
    silent NULLs. decimal(12,2) sums (1e20 capacity) are the
    scale-safe choice; the cost is constant-factor, not algorithmic.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty, ep, disc, tax = (
        F.col("l_quantity").cast(MONEY),
        _m("l_extendedprice"),
        F.col("l_discount").cast(RATE),
        F.col("l_tax").cast(RATE),
    )
    disc_price = (ep * (F.lit(1) - disc)).cast("decimal(18,4)")
    charge = (disc_price * (F.lit(1) + tax)).cast("decimal(18,6)")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / n).alias("avg_qty"),
        (F.sum(ep).cast("double") / n).alias("avg_price"),
        (F.sum(disc).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "q06_max_coalesce_version",
    category="aggregation",
    oracle="""
SELECT user_id,
       COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN event_id END), 0) + 1
         AS next_version
FROM events
GROUP BY user_id
""",
)
def q06_max_coalesce_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — the reference's MAX+1 sequence pattern
    (``data-query.py:70-85``, ``process-pipeline.py:238-252``:
    ``COALESCE(MAX(...), 0) + 1``), computed for every group in one
    pass instead of one point-query per file."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        (
            F.coalesce(
                F.max(F.when(F.col("event_type") == "purchase", F.col("event_id"))),
                F.lit(0),
            )
            + 1
        ).alias("next_version")
    )


@register(
    "q07_distinct_users",
    category="aggregation",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
)
def q07_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT + grouped agg (absent in the reference; SURVEY
    §2.4 'absent' list). Distinct-agg expands to a two-phase plan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast(VAL)).cast("double").alias("total_value"),
    )


@register(
    "q14_cube_qty",
    category="aggregation",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q14_cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY §2.4 absent list)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q15_rollup_revenue",
    category="aggregation",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def q15_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (SURVEY §2.4 absent list)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.sum(_m("o_totalprice")).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# Scans / filters / projections (SURVEY §2.1-2.2)
# ---------------------------------------------------------------------------


@register(
    "q02_filter_project",
    category="scan_filter",
    oracle="""
SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
FROM events
WHERE event_type = 'error' AND value > 100.0
""",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/P1/P4/P5 — predicate + explicit projection, the
    ``SELECT QueryId, DeleteQuery FROM delete_control WHERE
    ExecutedFlag = false`` shape (``delete-control.py:53-59``). Both
    the conjunctive filter and the 3-column projection reach the
    parquet scan (PushedFilters + ReadSchema)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 100.0))
        .select("event_id", "user_id", "value")
    )


@register(
    "q03_point_lookup",
    category="scan_filter",
    oracle="""
SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
FROM events
WHERE event_id = 42
""",
)
def q03_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — point lookup by key (``SELECT is_processed FROM
    processed_files WHERE event_id = %s``, ``process-pipeline.py:89-101``).
    At scale this is parquet row-group pruning on the min/max index of
    the key column — the filter is pushed to the footer level."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") == 42).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "q04_topk_orders",
    category="sort_limit",
    oracle="""
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def q04_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (SURVEY §2.6 absent list). Spark compiles
    orderBy+limit to TakeOrderedAndProject — per-partition heap-k then
    driver merge of k*partitions rows, never a full sort at scale.
    Tie-break on the unique key keeps the k-selection deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "q05_revenue_by_nation",
    category="join",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
         AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('AMERICA', 'ASIA') AND o.o_orderstatus = 'F'
GROUP BY n.n_name
""",
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join star query (TPC-H Q5 shape), SIZE-ADAPTIVE:

    - customer below ``BROADCAST_DIM_LIMIT`` on disk (every driver
      fixture): nation/region/customer broadcast, the lineitem⨝orders
      orderkey join is the only shuffle — the low-SF optimum.
    - customer above the limit (at 100 TB the dim side outgrows any
      driver): zero driver-side builds. Customer maps through the
      broadcast 25-row nation dim, joins orders via executor-built
      ShuffledHashJoin on custkey, the fact joins the (orderkey,
      nationkey) map via SHJ, and the 600 M-row aggregate groups on
      the 4-byte nationkey with names joined after. At sf100 on a
      32-core host the broadcast star spent about 13 s of its 17.8 s
      building the customer side serially on the driver (docs/SCALE.md).
      Both strategies produce the identical decimal-exact oracle
      answer (``test_registry_q05_adaptive_strategies_agree``)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    revenue = (
        _m("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast(RATE))
    ).cast("decimal(18,4)")
    nr = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    if _table_bytes(sf_dir, "customer") > BROADCAST_DIM_LIMIT:
        cmap = c.select("c_custkey", "c_nationkey").join(
            nr.select("n_nationkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        onk = (
            o.select("o_orderkey", "o_custkey")
            .join(
                cmap.hint("shuffle_hash"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", F.col("n_nationkey").alias("nk"))
        )
        per_nk = (
            li.select("l_orderkey", revenue.alias("rev"))
            .join(
                onk.hint("shuffle_hash"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("nk")
            .agg(
                F.sum("rev").cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_lineitems"),
            )
        )
        return per_nk.join(nr, per_nk.nk == nr.n_nationkey).select(
            F.col("n_name").alias("nation"), "revenue", "n_lineitems"
        )
    dims = F.broadcast(
        c.join(nr, c.c_nationkey == F.col("n_nationkey"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q10_semi_join",
    category="join",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def q10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS (J5's set-at-a-time form)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q11_anti_join",
    category="join",
    oracle="""
SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q11_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join = NOT EXISTS — the primitive under the engine's
    insert-if-absent / delete-by-keys (J2/J4,
    ``process-pipeline.py:152-174, 209-234``)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q21_range_join",
    category="join",
    oracle="""
SELECT p.p_partkey, p.p_name, COUNT(*) AS n_matches
FROM part p
JOIN lineitem l
  ON l.l_partkey = p.p_partkey
 AND l.l_quantity BETWEEN p.p_size AND p.p_size + 10
GROUP BY p.p_partkey, p.p_name
""",
)
def q21_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-predicate join (SURVEY §2.3 absent list: range/
    theta). The equi key keeps it a hash join; the BETWEEN rides along
    as a post-join filter — no nested-loop explosion."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity >= p.p_size)
        & (li.l_quantity <= p.p_size + 10)
    )
    return (
        p.join(li, cond)
        .groupBy("p_partkey", "p_name")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "q08_topk_per_group",
    category="window",
    oracle="""
SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def q08_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window — the distributed form of
    'latest version per file' (SURVEY §2.5). One shuffle on the
    partition key; Spark pushes a per-partition rank limit below the
    final sort (WindowGroupLimit)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "q09_running_total",
    category="window",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(10,2)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS running_value
FROM events
""",
)
def q09_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window with an explicit ROWS frame (running
    total per user). Decimal accumulation keeps every prefix exact."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(VAL)).over(w).cast("double").alias("running_value"),
    )


@register(
    "q20_lag_lead",
    category="window",
    oracle="""
SELECT event_id, user_id,
       LAG(event_type) OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS us_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q20_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead over event time — inter-event gaps per user."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (
            ts_micros("ts") - F.lag(ts_micros("ts")).over(w)
        ).alias("us_since_prev"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "q12_intersect_users",
    category="set_ops",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'signup'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def q12_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (signup ∩ purchase users)."""
    ev = load_table(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").select("user_id")
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return signup.intersect(purchase)


@register(
    "q13_except_users",
    category="set_ops",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'signup'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def q13_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (signed up but never purchased)."""
    ev = load_table(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").select("user_id")
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return signup.subtract(purchase)


# ---------------------------------------------------------------------------
# Scalar functions / JSON / dates / pivot (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "q16_scalar_pipeline",
    category="scalar",
    oracle="""
SELECT doc_id,
       lower(regexp_replace(regexp_replace(source || '_' || lang || '-docs.CSV',
             '\\.[^.]*$', '', 'g'), '[^a-zA-Z0-9_]', '_', 'g')) AS table_name,
       upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS lang_cap,
       CASE WHEN lang IN ('en', 'es', 'fr', 'de') THEN 'latin'
            WHEN lang = 'zh' THEN 'cjk' ELSE NULL END AS script,
       length(trim(text)) AS n_trimmed,
       n_chars + 1 AS n_chars_next
FROM documents
""",
)
def q16_scalar_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F14 scalar chain (SURVEY §2.8) as one JVM-side projection:
    the reference's file-name -> table-name derivation
    (``data-query.py:62-68``), capitalize (F6), conditional mapping
    (F12), membership (F13), trim/length (F7), arithmetic (F14) —
    all whole-stage-codegen, no Python."""
    d = load_table(spark, sf_dir, "documents")
    fname = F.concat_ws("", F.col("source"), F.lit("_"), F.col("lang"), F.lit("-docs.CSV"))
    stem = F.regexp_replace(fname, r"\.[^.]*$", "")
    table_name = F.lower(F.regexp_replace(stem, "[^a-zA-Z0-9_]", "_"))
    lang_cap = F.concat(
        F.upper(F.substring(F.col("lang"), 1, 1)),
        F.lower(F.expr("substr(lang, 2)")),
    )
    script = (
        F.when(F.col("lang").isin("en", "es", "fr", "de"), F.lit("latin"))
        .when(F.col("lang") == "zh", F.lit("cjk"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        table_name.alias("table_name"),
        lang_cap.alias("lang_cap"),
        script.alias("script"),
        F.length(F.trim(F.col("text"))).alias("n_trimmed"),
        (F.col("n_chars") + 1).alias("n_chars_next"),
    )


@register(
    "q17_json_props",
    category="scalar",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY user_id
""",
)
def q17_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — JSON field extraction (``json.loads`` of the event payload,
    ``process-pipeline.py:448``) via ``get_json_object``, then agg."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("user_id").agg(
        F.sum(k).alias("sum_k"), F.max(k).alias("max_k")
    )


@register(
    "q18_monthly_revenue",
    category="scalar",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY 1
""",
)
def q18_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 date handling — month bucketing + revenue, timestamps
    emitted as formatted strings (the engine's oracle-safe timestamp
    convention)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return o.groupBy(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month"
        )
    ).agg(
        F.sum(_m("o_totalprice")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q19_pivot_event_values",
    category="pivot",
    oracle="""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE) AS view
FROM events
GROUP BY user_id
""",
)
def q19_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list — never inferred, which would be a
    separate job at scale) of summed value per user × event_type."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.sum(F.col("value").cast(VAL)).cast("double"))
    )
    return piv


@register(
    "q33_above_customer_avg",
    category="subquery",
    oracle="""
WITH pc AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sum_p,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, pc.n_orders
FROM orders o JOIN pc ON o.o_custkey = pc.o_custkey
WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) * pc.n_orders > pc.sum_p
""",
)
def q33_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery ("orders above this customer's
    average"), written as its decorrelated plan — the aggregate-then-
    rejoin Catalyst itself rewrites such subqueries into. The predicate
    compares price*count > sum in exact decimal instead of dividing:
    avg() would round differently across engines (Spark widens the
    decimal, DuckDB goes to double), while the cross-multiplied form
    is bit-exact and algebraically identical."""
    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.sum(_m("o_totalprice")).alias("sum_p"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        o.join(pc, "o_custkey")
        .filter(_m("o_totalprice") * F.col("n_orders") > F.col("sum_p"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "n_orders")
    )


@register(
    "q34_shipping_priority",
    category="join",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
         AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q34_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped multi-join: filtered customer dim broadcasts
    into orders, the half-joined orders broadcast into the lineitem
    scan, one grouped decimal-exact revenue agg, TakeOrdered top-10
    (revenue desc, unique orderkey tie-break). lineitem — the 100 TB
    fact — is scanned once and never shuffled before the aggregation."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = (_m("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast(RATE))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q35_argmax_latest",
    category="aggregation",
    oracle="""
SELECT user_id,
       (max({'ts': ts, 'event_id': event_id})).event_id AS last_event,
       strftime((max({'ts': ts, 'event_id': event_id})).ts,
                '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY user_id
""",
)
def q35_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user via max-of-struct argmax — ONE partially-
    aggregated shuffle carrying a single (ts, id) struct per key,
    versus the row_number window's full sort of every row. The
    struct's field order (ts first, unique id second) makes the tie-
    break deterministic on both engines; at 100 TB this is the idiom
    that replaces 'ORDER BY ts DESC LIMIT 1 per key'."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select(
            "user_id",
            F.col("m.event_id").alias("last_event"),
            F.date_format("m.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        )
    )


@register(
    "q36_transport_codec",
    category="scalar",
    oracle="""
SELECT doc_id,
       base64(encode(text)) AS b64,
       decode(from_base64(base64(encode(text)))) = text AS roundtrip_ok
FROM documents
WHERE doc_id % 11 = 0
""",
)
def q36_transport_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — the message-bus transport codec (base64(JSON) payloads,
    ``process-pipeline.py:448``) value-checked, not just e2e-tested.
    Gotcha pinned here: Spark's ``base64`` MIME-chunks long inputs
    with CRLF every 76 chars while DuckDB emits one line — the
    engine's canonical transport form strips the soft breaks (decoders
    accept both)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    b64 = F.regexp_replace(
        F.base64(F.encode(F.col("text"), "utf-8")), "\r\n", ""
    )
    return d.select(
        "doc_id",
        b64.alias("b64"),
        (F.decode(F.unbase64(b64), "utf-8") == F.col("text")).alias("roundtrip_ok"),
    )


@register(
    "q37_late_shipment_exists",
    category="join",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
""",
)
def q37_late_shipment_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS: orders with at least one lineitem
    shipped >90 days after ordering — a COMPOUND-condition semi join
    (equi key + event-time range), the shape q10's pure equi-semi
    doesn't cover. The semi join keeps orders narrow; lineitem is
    probed on (orderkey, shipdate) only."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q38_order_count_distribution",
    category="join",
    oracle="""
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q38_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped two-level aggregation: orders per customer
    (LEFT join so zero-order customers count as 0 — COUNT of a
    nullable column, not COUNT(*)), then the distribution of those
    counts. First agg shuffles on custkey; the second input is one row
    per customer, so the histogram shuffle is tiny."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
