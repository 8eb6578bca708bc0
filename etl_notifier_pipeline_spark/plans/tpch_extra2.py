"""Remaining classic TPC-H plan shapes (SURVEY §2.3-2.4 completion):
min-per-group join-back (Q2), pure pushdown scan-agg (Q6), multi-dim
profit rollup (Q9), returned-item top-k (Q10), global-fraction HAVING
(Q11), date-bucket histogram (Q12), countDistinct with exclusion
anti-join (Q16), disjunctive OR-of-ANDs join predicate (Q19), nested
semi chain (Q20), and the sole-late-supplier double-correlation (Q21).

The testdata star schema has no ``partsupp``/``l_shipmode``/
``l_commitdate`` columns, so each query keeps the REFERENCE SHAPE
(what the optimizer must plan) while adapting the predicate surface to
the columns that exist; docstrings note the adaptation.

Determinism follows the registry contract: money doubles -> DECIMAL
before SUM, integer sums CAST(... AS BIGINT) in oracles, one final
double division/cast, top-k tie-broken on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table
from etl_notifier_pipeline_spark.plans.registry import register

# One definition of the exact-decimal volume expression for the whole
# catalog — a precision change must hit every query or none.
from etl_notifier_pipeline_spark.extensions import text as X
from etl_notifier_pipeline_spark.plans.tpch_extra import (  # noqa: F401
    MONEY,
    RATE,
    _VOL_SQL,
    _vol,
)


@register(
    "q49_min_cost_supplier",
    category="join",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey, l_suppkey, SUM({_VOL_SQL}) AS supp_cost
  FROM lineitem GROUP BY 1, 2
),
m AS (SELECT l_partkey, MIN(supp_cost) AS min_cost FROM rev GROUP BY 1)
SELECT r.l_partkey, s.s_name, n.n_name,
       CAST(r.supp_cost AS DOUBLE) AS supp_cost
FROM rev r
JOIN m ON m.l_partkey = r.l_partkey AND r.supp_cost = m.min_cost
JOIN supplier s ON s.s_suppkey = r.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
""",
)
def q49_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part, the supplier(s) with the minimum
    total shipped cost, decorated with supplier/nation dims. Adapted:
    no partsupp table, so the part->supplier link and its cost come
    from lineitem revenue.

    Scale shape: min-per-group via a WINDOW over the per-(part,supp)
    aggregate, not a groupBy + join-back — a join-back's min subtree
    re-derives the aggregate with different inferred null filters, so
    Spark cannot reuse the exchange and scans lineitem TWICE (verified
    on the physical plan); the window form scans once, and the window
    input is already reduced to |part x supp| rows. The equality
    filter keeps ties (Q2 semantics) on exact decimals; dims
    broadcast. Ref: SURVEY.md §2.3 absent-join list.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_vol()).alias("supp_cost")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        rev.withColumn(
            "__min_cost",
            F.min("supp_cost").over(Window.partitionBy("l_partkey")),
        )
        .filter(F.col("supp_cost") == F.col("__min_cost"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "l_partkey", "s_name", "n_name",
            F.col("supp_cost").cast("double").alias("supp_cost"),
        )
    )


@register(
    "q50_product_profit",
    category="join",
    oracle=f"""
SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(SUM(
         CAST({_VOL_SQL} AS DECIMAL(28,6))
         - CAST(CAST(l.l_quantity AS DECIMAL(12,2))
                * CAST(p.p_retailprice AS DECIMAL(12,2))
                * CAST(0.2 AS DECIMAL(2,1)) AS DECIMAL(28,6))
       ) AS DOUBLE) AS profit,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q50_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year, parts filtered by name pattern. Adapted: supply cost is a
    20%-of-retail surrogate (no partsupp.ps_supplycost).

    Scale shape: part (pre-filtered by the LIKE — the broadcast side
    shrinks before shipping), supplier, and nation are broadcast dims;
    lineitem⨝orders on the orderkey is the only shuffle. Profit stays
    decimal end-to-end (scale 6 covers the 5-decimal product exactly,
    so no pre-sum rounding); one cast to double at the end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    cost = (
        F.col("l_quantity").cast(MONEY)
        * F.col("p_retailprice").cast(MONEY)
        * F.lit("0.2").cast("decimal(2,1)")
    ).cast("decimal(28,6)")
    profit = _vol().cast("decimal(28,6)") - cost
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(profit).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q51_important_parts",
    category="aggregation",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey, SUM({_VOL_SQL}) AS part_rev
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT SUM(part_rev) AS total_rev, COUNT(*) AS n_parts FROM rev
)
SELECT r.l_partkey, CAST(r.part_rev AS DOUBLE) AS part_revenue
FROM rev r, tot
WHERE CAST(r.part_rev AS DOUBLE)
      > 1.4 * CAST(tot.total_rev AS DOUBLE) / tot.n_parts
""",
)
def q51_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a multiple of the
    MEAN part revenue — the group-vs-global-scalar HAVING pattern.
    (Q11's absolute fraction-of-total threshold shrinks per-part as the
    part count grows, emptying the result at higher SF; the 1.4x-mean
    form is scale-free and keeps the shape.)

    Scale shape: per-part revenue aggregates once (map-side combine);
    the global total+count is a second aggregate OVER THE AGGREGATE
    (part count, not lineitem count — tiny) and rides back as a
    broadcast 1-row crossJoin, so the threshold filter needs no second
    corpus scan and no collect. Both sums are exact decimals; the
    threshold compare runs in double identically on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(F.sum(_vol()).alias("part_rev"))
    tot = rev.agg(
        F.sum("part_rev").alias("__total_rev"),
        F.count(F.lit(1)).alias("__n_parts"),
    )
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(
            F.col("part_rev").cast("double")
            > F.lit(1.4)
            * F.col("__total_rev").cast("double")
            / F.col("__n_parts")
        )
        .select(
            "l_partkey", F.col("part_rev").cast("double").alias("part_revenue")
        )
    )


@register(
    "q52_shipping_delay_histogram",
    category="aggregation",
    oracle="""
SELECT o.o_orderpriority,
       LEAST(GREATEST(date_diff('day', o.o_orderdate, l.l_shipdate), 0) // 30,
             6) AS delay_bucket,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
""",
)
def q52_shipping_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority vs shipping-delay distribution.
    Adapted: no l_shipmode/commitdate, so the dimension is the
    order-priority class and the measure is the order->ship delay
    bucketed into 30-day bins (capped at 6, the open tail).

    Scale shape: one big-big shuffle join on the orderkey, then a
    low-cardinality (5 x 7 group) aggregate that map-side combines to
    almost nothing. Delays clamp to >= 0 before bucketing — the
    synthetic data ships some lines before their order date, and
    DuckDB's ``//`` truncates toward zero on negative ints while
    Spark's ``floor`` floors, so the clamp is also what keeps the
    bucket arithmetic engine-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay_bucket = F.least(
        F.floor(
            F.greatest(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")),
                F.lit(0),
            )
            / 30
        ),
        F.lit(6).cast("long"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderpriority", delay_bucket.alias("delay_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.col("l_quantity").cast(MONEY))
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "q53_supplier_part_counts",
    category="aggregation",
    oracle="""
SELECT p.p_brand, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 19, 29, 39, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2
""",
)
def q53_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part attribute
    class, excluding a supplier deny-set. Adapted: the part->supplier
    link is lineitem; the "complaints" exclusion is negative balance.

    Scale shape: part pre-filters (type + size-list) land in the
    broadcast build; the deny-set is a broadcast ANTI-join (tiny, and
    NOT IN without nulls is exactly anti-join semantics — s_suppkey is
    a key, never null); countDistinct expands to a two-phase
    (partial-distinct, merge) aggregate, the Spark shape for
    distinct-count at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    deny = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(deny, "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q54_disjunctive_revenue",
    category="join",
    oracle=f"""
SELECT CAST(SUM({_VOL_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 25
       AND l.l_quantity BETWEEN 10 AND 40)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
       AND l.l_quantity BETWEEN 20 AND 50)
""",
)
def q54_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate that
    mixes columns from BOTH join sides — the disjunctive-pushdown
    stress test.

    Scale shape: Catalyst splits the disjunction into the
    single-side conjuncts it can push (the brand/size union prunes the
    broadcast part build; the quantity envelope 1..50 prunes the
    lineitem scan) and evaluates the cross-side residual after the
    broadcast join — asserted in tests/test_plan_shapes.py. The final
    1-row aggregate is exact decimal -> one double cast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(_vol()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q55_excess_shipments",
    category="join",
    oracle="""
WITH shipped AS (
  SELECT l.l_suppkey,
         SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'red%' AND EXTRACT(year FROM l.l_shipdate) = 1997
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(sh.qty AS DOUBLE) AS red_qty
FROM shipped sh
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE sh.qty > CAST(50 AS DECIMAL(12,2))
  AND n.n_name IN ('NATION_4', 'NATION_5')
""",
)
def q55_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in a nation set who shipped more
    than a threshold quantity of name-filtered parts in one year — the
    nested filter->aggregate->semi-chain. Adapted: threshold is
    absolute (no partsupp.ps_availqty to scale by).

    Scale shape: the part name filter broadcasts; the year filter
    prunes the lineitem scan BEFORE the per-supplier aggregate (both
    predicates reach the scan); the HAVING runs on the aggregate
    (supplier-cardinality, tiny); supplier+nation decorate via
    broadcast joins after the reduction, so the wide data never
    carries dim columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(MONEY)).alias("qty"))
        .filter(F.col("qty") > F.lit(50).cast(MONEY))
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_4", "NATION_5")
        )
    )
    return (
        shipped.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey", "s_name", "n_name",
            F.col("qty").cast("double").alias("red_qty"),
        )
    )


@register(
    "q56_late_sole_suppliers",
    category="join",
    oracle="""
WITH enriched AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
  FROM enriched GROUP BY 1, 2
),
per_o AS (
  SELECT l_orderkey,
         COUNT(*) AS n_supp,
         CAST(SUM(supp_late) AS BIGINT) AS n_late
  FROM per_os GROUP BY 1
)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_os po
JOIN per_o ON per_o.l_orderkey = po.l_orderkey
JOIN supplier s ON s.s_suppkey = po.l_suppkey
WHERE po.supp_late = 1 AND per_o.n_supp >= 2 AND per_o.n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q56_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finalized multi-supplier order — the famous exists + not-exists
    double correlation. Adapted: "late" is ship > order date + 90 days
    (no commit/receipt dates).

    Scale shape: the correlated EXISTS pair decorrelates into ONE
    per-(order,supplier) aggregate, and the per-order supplier/late
    counts ride in as WINDOWS over that aggregate — a groupBy +
    join-back would re-derive the aggregate subtree (different null
    filters defeat exchange reuse) and scan lineitem twice; the
    window form scans once and windows over the already-reduced
    (order,supplier) frame. Top-20 is TakeOrderedAndProject with the
    (numwait desc, name) tie-break.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    enriched = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("late"),
    )
    per_os = enriched.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey", "l_suppkey", "supp_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("supp_late").over(w).alias("n_late"),
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        flagged.filter(
            (F.col("supp_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q57_returned_items",
    category="join",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM({_VOL_SQL}) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND EXTRACT(year FROM o.o_orderdate) = 1998
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q57_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue of returned lines
    in one order-year.

    Scale shape: the returnflag filter prunes the lineitem scan and
    the year filter prunes orders BEFORE their shuffle join; customer
    and nation broadcast; top-20 collapses to TakeOrderedAndProject
    (no global sort materializes), tie-broken on the unique custkey so
    the boundary row is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1998
    ).select("o_orderkey", "o_custkey")
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_vol()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q58_revenue_forecast",
    category="aggregation",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS revenue_delta,
       COUNT(*) AS n_lineitems
FROM lineitem
WHERE EXTRACT(year FROM l_shipdate) = 1997
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q58_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure filter-scan-aggregate forecast query —
    no join at all; the benchmark's pushdown/pruning canary.

    Scale shape: all three predicates and the 3-column projection
    reach the parquet scan (min/max row-group pruning does the rest);
    the single-row aggregate is exact decimal, map-side combined to
    one partial per task. At 100 TB this query is pure scan bandwidth.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1997)
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(MONEY)
                * F.col("l_discount").cast(RATE)
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q59_multi_distinct",
    category="aggregation",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CASE WHEN value >= 50 THEN user_id END)
         AS n_heavy_users
FROM events
GROUP BY event_type
""",
)
def q59_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates with different filters in ONE
    aggregation — overall users vs heavy users (value >= 50) per event
    type.

    Scale shape: Spark plans N distinct aggregates as one Expand node
    (each input row replicated per distinct group) + a two-phase
    aggregate — one scan, one shuffle, NOT one job per distinct
    column. The filtered distinct rides as countDistinct over a CASE
    that nulls out non-qualifying rows (null never counts), the same
    trick both engines share.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("value") >= 50, F.col("user_id"))
        ).alias("n_heavy_users"),
    )


@register(
    "q60_share_of_region",
    category="aggregation",
    oracle=f"""
WITH nr AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM({_VOL_SQL}) AS rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE)
         / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
         AS region_share
FROM nr
""",
)
def q60_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup: each supplier nation's share of its
    region's revenue — the two-level share pattern (child agg +
    parent window).

    Scale shape: one fact scan with broadcast dim chain, one
    nation-level aggregate (map-side combined), then the parent total
    as a window over the |nations|-sized aggregate — never a second
    scan or a join back. Both sums are exact decimals; the share is
    one double division.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
    )
    nr = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("region", "nation")
        .agg(F.sum(_vol()).alias("rev"))
    )
    return nr.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(Window.partitionBy("region")).cast("double")
        ).alias("region_share"),
    )


@register(
    "q61_large_volume_orders",
    category="join",
    oracle="""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, CAST(b.sum_qty AS DOUBLE) AS sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def q61_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds 300, decorated with customer and order
    attributes, top-100 by order value. Completes the catalog's sweep
    of all 22 classic TPC-H plan shapes (Q1-Q22; see COVERAGE.md §2.3).

    Scale shape: the HAVING aggregate reduces lineitem to qualifying
    orderkeys BEFORE any join (map-side partial sum, then one narrow
    shuffle keyed on orderkey); the orders join arrives already
    order-co-partitioned from that shuffle, and customer joins the
    tiny qualifying set (broadcast at test scale; at 100 TB the
    qualifying set is ~0.1% of orders, so it is the BROADCAST side,
    not customer). Global top-100 plans as TakeOrderedAndProject —
    per-partition heaps, no global sort. Quantity sums in exact
    DECIMAL; one final cast to double. Ref: SURVEY.md §2.3/§2.4
    (HAVING + multi-join), reference delegates to Postgres
    (process-pipeline.py:193-196 family).
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(MONEY)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q62_ordered_export",
    category="sort",
    oracle="""
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS total_spend,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spend DESC, o_custkey
""",
)
def q62_ordered_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally ORDERED export (no LIMIT): per-customer spend sorted by
    value — the §2.6 shape the top-k queries never exercise. A full
    global sort plans as an ``Exchange rangepartitioning`` (sampled
    range boundaries, every partition a disjoint key range, partitions
    sorted internally and ordered among themselves) — NOT a
    single-partition sort and NOT a TakeOrdered heap; this is how a
    100 TB ordered write ships (each range partition writes one sorted
    shard). Plan pinned in tests/test_plan_shapes.py; the value check
    is order-insensitive, the ordering contract is the plan itself."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast("double")
            .alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), "o_custkey")
    )


@register(
    "q64_multiset_set_ops",
    category="set_ops",
    oracle="""
SELECT 'surplus' AS side, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'signup'
)
UNION ALL
SELECT 'matched' AS side, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT ALL
  SELECT user_id FROM events WHERE event_type = 'signup'
)
""",
)
def q64_multiset_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — §2.7's ALL forms, which the
    distinct q12/q13 never exercise: EXCEPT ALL keeps multiplicity
    difference (a user with 3 purchases and 1 signup contributes the
    surplus TWICE), INTERSECT ALL keeps the multiplicity minimum.

    Scale shape: Spark plans both as a count-aggregate + generator
    replication (one shuffle on the value, no join) — the same
    narrow-key discipline as the distinct forms; the UNION ALL is a
    plan-level concatenation, no extra exchange of the inputs. The two
    filtered projections persist (r13 plan fix — the audit measured 4
    events scans: each side's scan re-ran for EXCEPT ALL and again for
    INTERSECT ALL): two fact scans total, each narrow user_id cache
    read twice."""
    from etl_notifier_pipeline_spark.caching import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    purchase = tracked_persist(
        ev.filter(F.col("event_type") == "purchase").select("user_id")
    )
    signup = tracked_persist(
        ev.filter(F.col("event_type") == "signup").select("user_id")
    )
    surplus = purchase.exceptAll(signup).select(
        F.lit("surplus").alias("side"), "user_id"
    )
    matched = purchase.intersectAll(signup).select(
        F.lit("matched").alias("side"), "user_id"
    )
    return surplus.unionByName(matched)


@register(
    "q66_multi_agg_pivot",
    category="pivot",
    oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN value <  50
                THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE)
         AS low_total,
       COUNT(CASE WHEN value <  50 THEN 1 END) AS low_n,
       CAST(SUM(CASE WHEN value >= 50
                THEN CAST(value AS DECIMAL(10,2)) END) AS DOUBLE)
         AS high_total,
       COUNT(CASE WHEN value >= 50 THEN 1 END) AS high_n
FROM events
GROUP BY event_type
""",
)
def q66_multi_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per cell (q19 pivots one): value
    band x {sum, count} per event type, via Spark's pivot multi-agg
    form (cell columns suffixed per aggregate, renamed to the stable
    contract names). The explicit pivot value list matters at scale —
    an inferred list is an extra distinct job over the fact table.

    Scale shape: identical to any pivot — ONE two-phase aggregate;
    every (band, agg) cell is a conditional aggregate inside the same
    Expand-free plan, never one pass per cell."""
    ev = load_table(spark, sf_dir, "events")
    band = F.when(F.col("value") < 50, F.lit("low")).otherwise(F.lit("high"))
    piv = (
        ev.withColumn("band", band)
        .groupBy("event_type")
        .pivot("band", ["low", "high"])
        .agg(
            F.sum(F.col("value").cast("decimal(10,2)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return piv.select(
        "event_type",
        F.col("low_total"),
        F.col("low_n"),
        F.col("high_total"),
        F.col("high_n"),
    )


@register(
    "q67_string_battery",
    category="scalar",
    oracle="""
SELECT event_id,
       lpad(event_type, 10, '.') AS padded_l,
       rpad(event_type, 10, '.') AS padded_r,
       reverse(event_type) AS reversed,
       repeat(substr(event_type, 1, 2), 3) AS repeated,
       translate(event_type, 'aeiou', '01234') AS translated,
       split_part(event_type || '-' || CAST(event_id AS VARCHAR), '-', 2)
         AS id_part,
       ascii(substr(event_type, 1, 1)) AS first_cp,
       strpos(event_type, 'e') AS e_pos
FROM events
WHERE event_id % 101 = 0
""",
)
def q67_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (§2.8 F-family widening beyond q16's
    chain): pad/reverse/repeat/translate/split_part/ascii/instr — each
    with byte-identical cross-engine semantics (1-based positions,
    0 when absent). Pure projection on a pushed-down key filter."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 101 == 0
    )
    et = F.col("event_type")
    return ev.select(
        "event_id",
        F.lpad(et, 10, ".").alias("padded_l"),
        F.rpad(et, 10, ".").alias("padded_r"),
        F.reverse(et).alias("reversed"),
        F.repeat(F.substring(et, 1, 2), 3).alias("repeated"),
        F.translate(et, "aeiou", "01234").alias("translated"),
        F.split_part(
            F.concat(et, F.lit("-"), F.col("event_id").cast("string")),
            F.lit("-"),
            F.lit(2),
        ).alias("id_part"),
        F.ascii(F.substring(et, 1, 1)).alias("first_cp"),
        F.instr(et, "e").alias("e_pos"),
    )


@register(
    "q68_record_days",
    category="window",
    oracle="""
WITH d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(10,2))) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       CAST(v AS DOUBLE) AS day_value,
       CAST(MAX(v) OVER w AS DOUBLE) AS cum_max,
       v = MAX(v) OVER w AS is_record
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q68_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-setting-day detection: daily value per event type with
    the running MAXIMUM and a new-record flag — the cumulative-extremum
    analytic (q09 is the running-SUM sibling; TPC-DS Q51's
    cumulative-comparison shape). The record flag compares exact
    decimals, so it cannot flicker on float noise.

    Scale shape: the window runs over the DAILY aggregate (|types| x
    |days| rows), never raw events — aggregate first, analyze the
    reduced frame; one fact shuffle + one tiny window sort."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    d = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(10,2)")).alias("v"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cm = F.max("v").over(w)
    return d.select(
        "event_type",
        "day",
        F.col("v").cast("double").alias("day_value"),
        cm.cast("double").alias("cum_max"),
        (F.col("v") == cm).alias("is_record"),
    )


@register(
    "q69_interpolated_quartiles",
    category="aggregation",
    oracle="""
WITH ranked AS (
  SELECT event_type, CAST(value AS DECIMAL(10,2)) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
),
ks AS (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3),
pos AS (
  SELECT c.event_type, ks.k, c.cnt,
         1 + ((c.cnt - 1) * ks.k) // 4 AS lo_pos,
         ((c.cnt - 1) * ks.k) % 4 AS frac4
  FROM (SELECT DISTINCT event_type, cnt FROM ranked) c CROSS JOIN ks
),
pick AS (
  SELECT p.event_type, p.k, p.frac4,
         MAX(CASE WHEN r.rn = p.lo_pos THEN r.v END) AS v_lo,
         MAX(CASE WHEN r.rn = p.lo_pos + 1 THEN r.v END) AS v_hi
  FROM pos p JOIN ranked r
    ON r.event_type = p.event_type AND r.rn IN (p.lo_pos, p.lo_pos + 1)
  GROUP BY p.event_type, p.k, p.frac4
)
SELECT event_type, k AS quartile,
       CAST(v_lo AS DOUBLE)
         + CAST(COALESCE(v_hi, v_lo) - v_lo AS DOUBLE) * (frac4 * 0.25)
         AS q_value
FROM pick
""",
)
def q69_interpolated_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles (percentile_cont semantics: pos =
    1 + (n-1)q, linear between the bracketing order statistics) —
    generalizes q24's rank-and-pick beyond the median. Library
    percentile()s interpolate with engine-specific double expression
    shapes; here the fraction is ((n-1)k mod 4)/4 in {0, .25, .5,
    .75} — exact binary doubles — and the bracketing values are exact
    decimals, so the interpolation is bit-identical cross-engine.

    Scale shape: one ranking window per type (the unavoidable sort),
    then each quartile reads TWO rows; the quartile spec frame is a
    3-row broadcast. q39 is the sketch path when the sort itself is
    too expensive."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    ranked = ev.select(
        "event_type",
        F.col("value").cast("decimal(10,2)").alias("v"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("cnt"),
    )
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    pos = (
        ranked.select("event_type", "cnt")
        .distinct()
        .crossJoin(F.broadcast(ks))
        .select(
            "event_type",
            "k",
            (F.lit(1) + F.expr("((cnt - 1) * k) div 4")).alias("lo_pos"),
            (((F.col("cnt") - 1) * F.col("k")) % 4).alias("frac4"),
        )
    )
    pick = (
        pos.join(ranked, "event_type")
        .filter(
            (F.col("rn") == F.col("lo_pos"))
            | (F.col("rn") == F.col("lo_pos") + 1)
        )
        .groupBy("event_type", "k", "frac4")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("lo_pos"), F.col("v"))
            ).alias("v_lo"),
            F.max(
                F.when(F.col("rn") == F.col("lo_pos") + 1, F.col("v"))
            ).alias("v_hi"),
        )
    )
    v_hi = F.coalesce("v_hi", "v_lo")
    return pick.select(
        "event_type",
        F.col("k").alias("quartile"),
        (
            F.col("v_lo").cast("double")
            + (v_hi - F.col("v_lo")).cast("double")
            * (F.col("frac4") * F.lit(0.25))
        ).alias("q_value"),
    )


@register(
    "q70_gaps_islands",
    category="window",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
r AS (
  SELECT user_id, day,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM d
),
g AS (SELECT user_id, day, day - CAST(rn AS INTEGER) AS grp FROM r)
SELECT user_id,
       strftime(MIN(day), '%Y-%m-%d') AS island_start,
       strftime(MAX(day), '%Y-%m-%d') AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM g GROUP BY user_id, grp
""",
)
def q70_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (the classic sessionize-on-a-calendar shape; st03 is the
    timestamp-gap sibling). Island key = day - row_number(): constant
    within a consecutive run, strictly decreasing across gaps — a pure
    window identity, no self-join and no iteration.

    Scale shape: distinct (user, day) first (the only fact-table
    shuffle, carrying 16 bytes/row), then one ranking window and one
    aggregate over the REDUCED frame, both co-partitioned on user_id —
    Spark plans a single exchange for all three steps."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    r = d.select(
        "user_id",
        "day",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("day"))
        .alias("rn"),
    )
    g = r.select(
        "user_id", "day", F.date_sub("day", F.col("rn")).alias("grp")
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


@register(
    "q71_ewma_daily",
    category="aggregation",
    oracle="""
WITH d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, list(v ORDER BY day) AS vs,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM d GROUP BY 1
)
SELECT event_type, n_days,
       vs[-1] AS last_value,
       list_reduce(vs, (s, x) -> 0.5 * x + 0.5 * s) AS ewma_final
FROM g
""",
)
def q71_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5) over the
    daily value series per event type — the recursive smoother
    s_n = a*x_n + (1-a)*s_{n-1}, not expressible as a frame-bounded
    window aggregate. Computed as an ordered sequential left-fold:
    DuckDB ``list_reduce`` seeds with the first element, so the Spark
    side folds ``aggregate(slice(vs, 2, n-1), vs[0], ...)`` — the same
    double operation sequence, hence bit-identical (the s01 cosine-fold
    contract). alpha = 0.5 halves exactly in binary, so each step
    rounds once, identically, in both engines.

    Scale shape: the fold runs over the DAILY aggregate per type
    (|days| elements, bounded by calendar length, NOT corpus size) —
    collect_list here is a bounded per-group series, the one shuffle is
    the daily pre-aggregate with map-side partial sums."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.sum(F.col("value").cast("decimal(10,2)"))
        .cast("double")
        .alias("v")
    )
    g = d.groupBy("event_type").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("day"), F.col("v")))
            ),
            lambda s: s["v"],
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    )
    vs = F.col("vs")
    return g.select(
        "event_type",
        "n_days",
        F.element_at(vs, -1).alias("last_value"),
        F.aggregate(
            F.slice(vs, F.lit(2), F.size(vs) - 1),
            F.element_at(vs, 1),
            lambda s, x: F.lit(0.5) * x + F.lit(0.5) * s,
        ).alias("ewma_final"),
    )


@register(
    "q72_proration",
    category="window",
    oracle="""
WITH lc AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS ext_c
  FROM lineitem
),
oc AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS total_c
  FROM orders
),
w AS (
  SELECT l_orderkey, l_linenumber, ext_c, total_c,
         CAST(SUM(ext_c) OVER (PARTITION BY l_orderkey) AS BIGINT) AS s
  FROM lc JOIN oc ON l_orderkey = o_orderkey
),
b AS (
  SELECT *, (total_c * ext_c) // s AS base, (total_c * ext_c) % s AS fr
  FROM w
),
r AS (
  SELECT *,
         total_c - CAST(SUM(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
           AS rem,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY fr DESC, l_linenumber) AS rk
  FROM b
)
SELECT l_orderkey, l_linenumber,
       CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM r
""",
)
def q72_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proration: allocate each order's header total across its
    line items proportionally to extended price, in integer cents, with
    LARGEST-REMAINDER rounding — per order, SUM(alloc_cents) equals the
    header total to the cent, guaranteed (base = floor share, then the
    leftover r cents go to the r largest fractional parts, tie-broken
    on line number). The billing/settlement allocation shape no float
    arithmetic can do correctly.

    All arithmetic is int64: money -> exact cents via decimal(12,2),
    floor share = (total*ext) div S. The product is bounded by
    per-ORDER magnitudes (total_c * ext_c < 2^63 for orders under ~$9.5
    B x $10 M lines), independent of corpus size, so the shape holds at
    100 TB. One shuffle co-partitions on l_orderkey; both windows and
    the join reuse it."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lc = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("ext_c"),
    )
    oc = o.select(
        F.col("o_orderkey"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("total_c"),
    )
    j = lc.join(oc, lc.l_orderkey == oc.o_orderkey).drop("o_orderkey")
    po = W.partitionBy("l_orderkey")
    w = j.withColumn("s", F.sum("ext_c").over(po))
    b = w.select(
        "l_orderkey",
        "l_linenumber",
        "total_c",
        F.expr("(total_c * ext_c) div s").alias("base"),
        ((F.col("total_c") * F.col("ext_c")) % F.col("s")).alias("fr"),
    )
    r = b.select(
        "l_orderkey",
        "l_linenumber",
        "base",
        (F.col("total_c") - F.sum("base").over(po)).alias("rem"),
        F.row_number()
        .over(po.orderBy(F.col("fr").desc(), "l_linenumber"))
        .alias("rk"),
    )
    return r.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("rem"), F.lit(1)).otherwise(0)
        ).alias("alloc_cents"),
    )


@register(
    "q73_cohort_retention",
    category="aggregation",
    oracle="""
WITH first_seen AS (
  SELECT user_id,
         MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
cohort_size AS (
  SELECT cohort_day, COUNT(*) AS n_users
  FROM first_seen GROUP BY cohort_day
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(date_trunc('day', e.ts) AS DATE) - f.cohort_day AS days_since
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(a.days_since AS INT) AS days_since,
       COUNT(*) AS active_users,
       s.n_users AS cohort_size,
       CAST(COUNT(*) AS DOUBLE) / s.n_users AS retention
FROM (SELECT cohort_day, days_since, user_id FROM activity) a
JOIN cohort_size s ON a.cohort_day = s.cohort_day
GROUP BY 1, 2, s.n_users
""",
)
def q73_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity day,
    tracked by distinct activity on each subsequent day — the
    product-analytics staple (cohort x days-since grid with
    retention = active/cohort-size). Day granularity because the
    fixture window is one month; the month variant is the same plan
    with a coarser date_trunc.

    Determinism: day arithmetic is integer (datediff), retention is
    one int/int double division. Scale shape (r13 plan fix — the audit
    measured the old first_seen-join plan at 3 events scans /
    5 exchanges, the unpersisted first_seen aggregate recomputed per
    consumer): ONE events scan, ONE fact-sized exchange. The (user,
    day) dedup repartitions by user_id (user_id partitioning satisfies
    the dedup's clustering requirement), the per-user first day is a
    window over the SAME partitioning (no second exchange — cohort_day
    = min(day) over the user's deduped days, identical to the old
    user-keyed aggregate), and cohort_size falls out of the same frame
    as the days_since == 0 rows (every user has exactly one — their
    first day). The user-day frame persists: two consumers (retention
    rollup + cohort sizes), both tiny aggregates over the cache."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.caching import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    activity = tracked_persist(
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .repartition("user_id")
        .dropDuplicates(["user_id", "d"])
        .select(
            "user_id",
            F.min("d").over(W.partitionBy("user_id")).alias("cohort_day"),
            "d",
        )
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", "cohort_day").cast("int").alias("days_since"),
        )
    )
    cohort_size = (
        activity.filter(F.col("days_since") == 0)
        .groupBy("cohort_day")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return (
        activity.groupBy("cohort_day", "days_since")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(cohort_size), "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "days_since",
            "active_users",
            F.col("n_users").alias("cohort_size"),
            (
                F.col("active_users").cast("double") / F.col("n_users")
            ).alias("retention"),
        )
    )


@register(
    "q74_event_sequence_match",
    category="window",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, COUNT(*) AS n_matches,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_match_ts
FROM o
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
GROUP BY user_id
""",
)
def q74_event_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequential pattern detection: count, per
    user, the strictly CONSECUTIVE view -> click -> purchase triples in
    event order — the sequence-mining shape (SQL-standard row pattern
    matching) Spark has no native operator for, expressed as a
    double-LEAD window + filter.

    Scale shape: one shuffle co-partitions each user's events; both
    LEADs and the aggregate reuse it (single exchange in the plan).
    Tie-break (ts, event_id) makes the sequence — and therefore the
    match set — deterministic under duplicate timestamps."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", "ts",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        o.filter(
            (F.col("event_type") == "view")
            & (F.col("t1") == "click")
            & (F.col("t2") == "purchase")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.date_format(
                F.min("ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("first_match_ts"),
        )
    )


@register(
    "q75_linear_interpolation",
    category="window",
    oracle="""
WITH bounds AS (
  SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS lo,
         CAST(MAX(date_trunc('day', ts)) AS DATE) AS hi
  FROM events
),
days AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
obs AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(14,2))
              AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, d.day, o.v
  FROM (SELECT DISTINCT user_id FROM obs) u
  CROSS JOIN days d
  LEFT JOIN obs o ON o.user_id = u.user_id AND o.day = d.day
),
ctx AS (
  SELECT user_id, day, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM grid
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, v AS observed,
       CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END AS filled
FROM ctx
""",
)
def q75_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-series interpolation over a dense daily grid: each
    user's daily purchase total, with interior gaps filled by the
    straight line between the surrounding observations (edges stay
    NULL) — the imputation sibling of q65's LOCF, and the op behind
    resample().interpolate() in every timeseries stack.

    Determinism: observations are decimal-summed (exact), day deltas
    are integers; the fill is the same three double ops in the same
    order on both engines — bit-exact. Scale shape: the grid is
    |users| x |days| (bounded, NOT event-scaled); ONE shuffle on
    user_id positions the grid for all four IGNORE-NULLS windows and
    the left join rides the same key; the 1-row bounds and the day
    spine are broadcast. The per-(user, day) observation frame
    persists (r13 plan fix — the audit measured 3 events scans: the
    unpersisted aggregate re-ran the fact scan + fact-sized groupBy
    for BOTH its consumers, the user spine and the grid join); the
    bounds scan stays separate by necessity (it spans ALL event types,
    obs only purchases)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.caching import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("lo"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    obs = tracked_persist(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(10,2)"))
            .cast("decimal(14,2)")
            .cast("double")
            .alias("v")
        )
    )
    grid = (
        obs.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(days))
        .join(obs, ["user_id", "day"], "left")
    )
    run = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = grid.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(run).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(run).alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    fill = F.when(F.col("v").isNotNull(), F.col("v")).when(
        F.col("pv").isNotNull() & F.col("nv").isNotNull(),
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (
            F.datediff("day", "pd").cast("double")
            / F.datediff("nd", "pd").cast("double")
        ),
    )
    return ctx.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").alias("observed"),
        fill.alias("filled"),
    )


@register(
    "q76_cooccurrence_lift",
    category="aggregation",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
),
n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
tc AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ta.n_t AS n_a, tb.n_t AS n_b,
       CAST(p.n_ab * n.n_users AS DOUBLE) / (ta.n_t * tb.n_t) AS lift
FROM pairs p
JOIN tc ta ON ta.event_type = p.type_a
JOIN tc tb ON tb.event_type = p.type_b, n
""",
)
def q76_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence lift over event types: for every
    unordered type pair, the ratio of observed co-occurrence (users
    with both) to the independence expectation — lift > 1 means the
    behaviors attract. The association-mining primitive (the pair
    stage of A-Priori) on the user-item incidence.

    Determinism: lift = (n_ab * n_users) / (n_a * n_b) — integer
    products, ONE double division. Scale shape (r13 plan fix — the
    audit measured the old plan at 5 events scans / 8 exchanges, one
    fact-sized dedup shuffle PER CONSUMER, because the unpersisted
    incidence frame recomputed for each of its four consumers): the
    incidence frame is repartitioned by user_id ONCE (the only
    fact-sized shuffle — user_id partitioning satisfies the distinct's
    (user, type) clustering requirement, so the dedup adds no second
    exchange), persisted, and every consumer reads the cache; the pair
    self-join is exchange-free on both legs (both sides share the
    cached user_id partitioning); per-type counts and the 1-row user
    count broadcast into the tiny pair frame."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.caching import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    ut = tracked_persist(
        ev.select("user_id", "event_type")
        .repartition("user_id")
        .dropDuplicates(["user_id", "event_type"])
    )
    n = ut.select(F.countDistinct("user_id").alias("n_users"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a", "type_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


@register("q77_hll_sketch_rollup", category="aggregation")
def q77_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) HLL sketches of
    distinct users, MERGED up to per-type totals — the pre-aggregation
    pattern that makes 100 TB distinct counting incremental (store
    day-level sketches ~1 KB each; any date range is a sketch union,
    never a re-scan; Datasketges HLL via F.hll_sketch_agg/
    hll_union_agg). Emits the day-merged estimate, the direct
    single-pass estimate, and the exact count. HLL union is lossless
    at the REGISTER level (per-register max is associative+
    commutative), but Spark's union gadget (DataSketches HLL_8) and a
    directly-built HLL_4 sketch transition modes differently, so past
    the sparse regime their ESTIMATES separate slightly (measured
    0.4% relative at 1500 distincts, sf0.1); merged_near_direct pins
    |merged - direct| <= max(2, 2% * exact) — SF-independent, an
    order tighter than the accuracy envelope — and the
    estimate-vs-exact gap is the usual HLL error.

    Sketch contents are data-set-determined (order-independent), so
    output is stable — but the estimator is approximate by algorithm,
    not SQL-reproducible -> rows-only driver check + property tests."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact"),
    )
    return (
        rolled.join(direct, "event_type")
        .select(
            "event_type",
            "n_days",
            "merged_est",
            "direct_est",
            "exact",
            (
                F.abs(F.col("merged_est") - F.col("direct_est"))
                <= F.greatest(F.lit(2.0), F.lit(0.02) * F.col("exact"))
            ).alias("merged_near_direct"),
        )
    )


@register(
    "q78_hash_sample_estimate",
    category="aggregation",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_sampled,
       COUNT(*) * 16 AS est_n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
            * 16 AS DOUBLE) AS est_revenue
FROM orders
WHERE (('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
       % {X.HASH_MOD}) % 16 = 0
GROUP BY o_orderpriority
""",
)
def q78_hash_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-16 hash sampling with scale-up estimation:
    the TABLESAMPLE twin every interactive 100 TB exploration runs
    first, made REPRODUCIBLE by sampling on a key hash (the md5-prefix
    portable hash, never rand()) so resamples, retries, and both
    engines pick the identical row set — the x10/x15 determinism
    doctrine applied to approximate aggregation.

    Scale shape: the hash predicate is a pure per-row filter fused
    into the scan (no shuffle added); downstream agg sees 1/16 of the
    rows. Estimates: integer count x16, decimal sum x16 (exact), ONE
    final double cast."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.extensions.text import token_hash

    o = load_table(spark, sf_dir, "orders")
    sampled = o.filter(
        token_hash(F.col("o_orderkey").cast("string")) % 16 == 0
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.count(F.lit(1)) * 16).alias("est_n_orders"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            * 16
        )
        .cast("double")
        .alias("est_revenue"),
    )


@register(
    "q79_zscore_outliers",
    category="aggregation",
    oracle="""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(CAST(value AS DECIMAL(10,2))
                       * CAST(value AS DECIMAL(10,2)) AS DECIMAL(24,4)))
              AS DOUBLE) AS ss
  FROM events
  GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CAST(CAST(e.value AS DECIMAL(10,2)) AS DOUBLE) AS value,
       (CAST(CAST(e.value AS DECIMAL(10,2)) AS DOUBLE) - s / n)
         / sqrt((ss - s * s / n) / (n - 1)) AS z
FROM events e JOIN stats USING (event_type)
WHERE n > 1
  AND abs((CAST(CAST(e.value AS DECIMAL(10,2)) AS DOUBLE) - s / n)
          / sqrt((ss - s * s / n) / (n - 1))) > 2.5
""",
)
def q79_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging (|z| > 2.5 within
    event_type) — the distribution-based data-quality gate. The
    moments are EXACT (decimal sum and sum-of-squares; value^2 has 4
    decimals so DECIMAL(24,4) sums are lossless); mean/std/z then use
    the identical IEEE double expression tree on both engines, so even
    the z values hash-match bit-for-bit. Single-member groups are
    excluded EXPLICITLY (n > 1 on both engines): the sample-variance
    term divides by n-1, and without the guard Spark maps the 0/0 to
    NULL while DuckDB yields NaN/inf — both happened to fall outside
    |z| > 2.5, but the match must not rest on that coincidence
    (r4 ADVICE).

    Scale shape: two passes over a 2-3 column projection of the fact
    (one narrow groupBy builds the |types|-row moment table, which
    broadcasts into the second scan) — the deliberate alternative to a
    single-pass window, which would shuffle the ENTIRE fact by a
    low-cardinality key; no window, no sort.
    """
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    v2 = F.col("value").cast("decimal(10,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("s"),
        F.sum((v2 * v2).cast("decimal(24,4)")).cast("double").alias("ss"),
    )
    vd = v2.cast("double")
    z = (vd - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("n") > 1)
        .select(
            "event_id",
            "event_type",
            vd.alias("value"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 2.5)
    )


@register(
    "q80_pareto_abc",
    category="window",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS r
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT SUM(r) AS total FROM rev),
c AS (
  SELECT l_partkey, r,
         SUM(r) OVER (ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM rev
)
SELECT l_partkey,
       CAST(r AS DOUBLE) AS revenue,
       CAST(r AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c CROSS JOIN t
""",
)
def q80_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC revenue classification per part: exact decimal
    revenue, ordered cumulative share (decimal running sum — exact, so
    the A/B/C boundary cannot flip with partitioning), one double
    division per emitted column.

    Scale shape: the fact aggregates FIRST (partial map-side combine),
    so the cumulative sum runs over the |parts|-sized summary frame,
    never the fact — and that sum executes as the two-phase
    ``ordered_prefix_sum`` (range-partition by revenue order, tiny
    cross-bucket offset window, parallel per-bucket windows), so there
    is NO single-partition window at ANY |parts| (the r4 verdict's q80
    escape hatch, now code instead of prose). Exactness is preserved:
    decimal partial sums + a decimal offset are bit-identical to the
    global decimal running sum, so the A/B/C boundaries cannot move.

    The per-part revenue frame persists (r13 plan fix — the audit
    measured 3 lineitem scans / 7 exchanges: the unpersisted aggregate
    re-ran the fact scan + fact-sized groupBy for the grand total, the
    range-partition sampling pass AND the data pass): one fact scan +
    one fact-sized exchange, every consumer reads the |parts|-sized
    cache."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.caching import tracked_persist
    from etl_notifier_pipeline_spark.extensions.sampling import (
        ordered_prefix_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    r = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
    )
    rev = tracked_persist(li.groupBy("l_partkey").agg(F.sum(r).alias("r")))
    total = rev.agg(F.sum("r").alias("total"))
    c = ordered_prefix_sum(
        rev, "r", [F.col("r").desc(), F.col("l_partkey")],
        alias="cum", n_buckets=32,
    ).crossJoin(F.broadcast(total))
    cum_share = F.col("cum").cast("double") / F.col("total").cast("double")
    return c.select(
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        (F.col("r").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        cum_share.alias("cum_share"),
        F.when(cum_share <= 0.8, F.lit("A"))
        .when(cum_share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


@register(
    "q81_hll_error_bound",
    category="aggregation",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
       COUNT(DISTINCT user_id) AS exact,
       TRUE AS merged_near_direct,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def q81_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q77's HLL rollup with its error contract IN the result, which
    makes the approximate estimator ORACLE-PAIRED (the r4 verdict's
    q77 gap): the DuckDB oracle computes the exact distinct counts and
    literal TRUE for both contract booleans, so the driver's value-hash
    compare fails iff (a) the day-merged sketch union diverges from the
    single-pass sketch past |merged - direct| <= max(2, 2% * exact), or
    (b) the merged estimate leaves the accuracy envelope
    |est - exact| <= max(5, 5% * exact). 5% is >3 sigma for the
    default lgConfigK=12 sketch (RSE = 1.04/sqrt(4096) ~ 1.6%), so a
    pass is a real accuracy statement, not a tautology; the raw
    estimates stay visible in the rows-only q77.

    (a) was a strict equality through r11 — correct only in the
    sketch's SPARSE regime: per-register max is associative, but
    Spark's union gadget (DataSketches HLL_8) and a directly-built
    HLL_4 sketch transition modes differently, and past ~1k distincts
    their ESTIMATES separate slightly (measured at sf0.1: 1488 vs
    1494 on exact 1500 — 0.4% relative, every group). The 2% band
    pins that divergence an order tighter than the accuracy envelope
    while staying SF-independent.

    Scale shape: identical to q77 — day-level sketches (~1 KB each)
    merge associatively, so any date-range rollup is a sketch union,
    never a fact re-scan."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "direct_est"
        ),
        F.countDistinct("user_id").alias("exact"),
    )
    union_div = F.abs(F.col("merged_est") - F.col("direct_est"))
    union_bound = F.greatest(F.lit(2.0), F.lit(0.02) * F.col("exact"))
    err = F.abs(F.col("merged_est") - F.col("exact"))
    bound = F.greatest(F.lit(5.0), F.lit(0.05) * F.col("exact"))
    return rolled.join(direct, "event_type").select(
        "event_type",
        "n_days",
        "exact",
        (union_div <= union_bound).alias("merged_near_direct"),
        (err <= bound).alias("within_bound"),
    )


# the part brands q84 keeps; its oracle SQL spells the same list
Q84_BRANDS = ("Brand#3", "Brand#7")


@register(
    "q84_brand_small_qty_revenue",
    category="join",
    oracle="""
WITH flt AS (
  SELECT l.l_partkey, p.p_brand, l.l_quantity, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand IN ('Brand#3', 'Brand#7')
),
part_avg AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           / COUNT(*) AS avg_qty
  FROM flt GROUP BY l_partkey
)
SELECT f.p_brand, f.l_partkey,
       COUNT(*) AS n_small,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS small_revenue
FROM flt f
JOIN part_avg a ON a.l_partkey = f.l_partkey
WHERE f.l_quantity < 0.5 * a.avg_qty
GROUP BY 1, 2
""",
)
def q84_brand_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 proper (q43 is the unfiltered cousin): revenue from
    small-quantity lineitems of selected BRANDS — the brand filter is
    on part attributes, so it restricts which PARTS qualify and the
    per-part average is unchanged by filtering first (every lineitem
    of a qualifying part survives the join). Decorrelated into a
    per-part WINDOW over the single brand-filtered scan; the filter
    rides a broadcast of the ~8%-selective part projection. One scan
    of lineitem and no self-join: the aggregate -> join-back form of
    Q17 reads the fact twice."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*Q84_BRANDS)
    ).select("p_partkey", "p_brand")
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast(MONEY)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum(F.col("l_extendedprice").cast(MONEY))
            .cast("double")
            .alias("small_revenue"),
        )
    )
