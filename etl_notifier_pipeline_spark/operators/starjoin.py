"""Scale-safe star joins: executor-side builds, no driver-serial
broadcast of a growing dimension.

The problem (measured, DEPLOY_BENCH_sf100 r6): q05's star plan
broadcasts the customer-side dimension. At sf100 that build is ~30 M
qualifying orders — constructed SERIALLY on the driver (~13 s of the
17.8 s wall), and at another 100x the dim side exceeds what any
driver can hold: the broadcast star does not survive scale. The two
plans that do, both implemented here:

1. ``plan_shuffle_hash`` — pure executor-side build: every join is a
   ShuffledHashJoin (hash tables built per-partition on executors,
   never on the driver, never sorted — the r6 measurement showed
   sort-merge pays 25 GB of sort spill on the 600 M-row fact). Works
   on any layout; the fact table pays one shuffle.
2. ``plan_bucketed`` — storage-partitioned join: the fact table is
   WRITTEN hash-bucketed by its join key at ingest (standard
   warehouse layout — Spark ``bucketBy``, Iceberg/Delta bucket
   transforms, Hive bucketing all express it), so at read time the
   scan itself IS the shuffle: the fact never moves. Only the
   orders->nation map (|qualifying orders| rows, two narrow columns)
   is exchanged to align with the fact's buckets. This is the q05
   plan that survives 100 TB: fact-side network cost zero, build
   sides partition-local, nothing driver-resident but a 25-row
   nation/region map.

Reference parity: the reference (etl-notifier-pipeline) delegates all
joins to Postgres (`process-pipeline.py` issues SQL); these operators
are the engine-side answer for the one join shape Postgres-on-one-box
cannot scale past.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table

# Ingest-time bucket layout for the q05 star: fact bucketed by the
# fact-dim key, orders/customer co-bucketed on the dim key so the
# custkey join is exchange-free on BOTH sides. Two measured layout
# choices ride on the fact entry (ladder at sf100, 600 M rows, in
# docs/SCALE.md):
# - ``columns``: the fact is stored as a COVERING PROJECTION (join
#   key + the measures the star reads) — a Vertica projection /
#   covering index, 16 GB full-width -> 7.2 GB, fact-stage CPU
#   137.8 s -> ~114 s (narrower row-group decode).
# - ``buckets_mult``: the fact gets 4x the dim bucket count, so each
#   probe task's executor-built hash map holds nb/4x fewer entries
#   (117 k -> 29 k at 256 dims = ~1.2 MB, L2-resident under 32
#   concurrent tasks) — fact-stage CPU ~114 s -> ~94 s. The custkey
#   join's co-location is unaffected (dims keep one bucket count);
#   the onk map was already being exchanged to align with the fact.
LAYOUTS: dict[str, dict[str, dict]] = {
    # q05's layout: fact bucketed by orderkey, orders/customer
    # co-bucketed on custkey (the custkey join is exchange-free on
    # BOTH sides; the orderkey side aligns the small onk map to the
    # fact's buckets)
    "custkey_star": {
        "lineitem": {
            "key": "l_orderkey",
            "columns": ("l_orderkey", "l_extendedprice", "l_discount"),
            "buckets_mult": 4,
        },
        # r9: covering projections on BOTH dim-side tables too —
        # q05 reads exactly these columns, so the scans decode 3-of-9
        # and 2-of-5 column chunks instead of full width (the same
        # Vertica-projection argument the fact already measured)
        "orders": {
            "key": "o_custkey",
            "columns": ("o_orderkey", "o_custkey", "o_orderstatus"),
        },
        "customer": {
            "key": "c_custkey",
            "columns": ("c_custkey", "c_nationkey"),
        },
    },
    # the fact-fact layout (q50/TPC-H Q9 and q56/Q21 shapes): lineitem
    # AND orders co-bucketed on the orderkey with EQUAL bucket counts,
    # so the join between the two table-sized relations — the join
    # that can never broadcast and at 100 TB must not shuffle either
    # side — is storage-partitioned with zero exchange on both legs.
    # The covering projection is the UNION of its stars' columns
    # (q50: partkey/suppkey/quantity/price/discount + orderdate; q56
    # adds shipdate + orderstatus): one stored fact copy serves every
    # query of the shape — projections are per-JOIN-GEOMETRY capital,
    # not per-query — and columnar scans still decode only each
    # query's columns, so q50 pays nothing for q56's extra two.
    "orderkey_star": {
        "lineitem": {
            "key": "l_orderkey",
            "columns": (
                "l_orderkey", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount",
                "l_shipdate",
            ),
            "buckets_mult": 4,
        },
        "orders": {
            "key": "o_orderkey",
            "columns": ("o_orderkey", "o_orderdate", "o_orderstatus"),
            "buckets_mult": 4,
        },
    },
    # The THIRD layout axis (r10 ask #7): lineitem bucketed by PART.
    # This axis serves a different clustering family than the other
    # two — per-part analytics (TPC-H Q2/Q17 shapes: q49's min-cost
    # window, q84's avg-quantity self-join): every groupBy/window
    # whose keys CONTAIN l_partkey runs exchange-free, the Q17
    # aggregate -> join-back SELF-join is storage-partitioned on both
    # legs (both derive the bucket partitioning from the same stored
    # layout, equal partition counts, so EnsureRequirements inserts
    # nothing), and part co-buckets at the SAME count (equal
    # buckets_mult) so the part decoration/filter join is colocated —
    # part is table-sized at 100 TB and must not broadcast. Covering
    # projection = union of the axis's query needs (q49 + q84), the
    # same per-join-geometry-capital argument as orderkey_star.
    "partkey_star": {
        "lineitem": {
            "key": "l_partkey",
            "columns": (
                "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice", "l_discount",
            ),
            "buckets_mult": 4,
        },
        "part": {
            "key": "p_partkey",
            "columns": ("p_partkey", "p_brand"),
            "buckets_mult": 4,
        },
    },
}

# backwards-compatible alias (pre-r9 single-layout name)
STAR_BUCKETS: dict[str, dict] = LAYOUTS["custkey_star"]

LAST_BUILD_SECS: dict[str, float] = {}

# strategy="auto" records (per dim-join key) the measured size and the
# path it chose, so a benchmark artifact shows which plan actually ran
LAST_STAR_DECISIONS: dict[str, dict] = {}

# the measured dim sizes behind strategy="auto", keyed by
# (sf_dir, fact, dim join key): a catalog-statistics cache, so
# re-planning the same star (every run of a repeated query) doesn't
# re-pay the count job — exactly what ANALYZE-maintained stats are
_AUTO_SIZE_CACHE: dict[tuple, int] = {}


def _tag(sf_dir: str) -> str:
    return re.sub(r"\W+", "_", sf_dir).strip("_")


def bucketed_table_name(
    sf_dir: str, table: str, n_buckets: int = 256, spec: dict | None = None
) -> str:
    """Layout-versioned catalog name: bucket key, count and projection
    width are all part of the name, so a spec change (or the same
    table appearing in two layouts bucketed by different keys) can
    never silently reuse a stale on-disk layout."""
    if spec is None:
        spec = STAR_BUCKETS.get(table, {})
    nb = n_buckets * spec.get("buckets_mult", 1)
    cols = spec.get("columns")
    key_tag = f"_k{spec['key']}" if spec.get("key") else ""
    # the original custkey_star names predate multi-layout support;
    # keep them stable so existing warehouses/artifacts stay valid.
    # VALUE comparison, not identity: an equal-but-copied spec (caller
    # dict literal, deepcopy of LAYOUTS) must map to the same catalog
    # name or the whole bucketed layout silently rebuilds (r9 advice #4)
    if spec == STAR_BUCKETS.get(table):
        key_tag = ""
    suffix = f"{key_tag}_b{nb}" + (f"_p{len(cols)}" if cols else "")
    return f"star_{_tag(sf_dir)}__{table}{suffix}"


def ensure_bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    tables: dict[str, str] | None = None,
    n_buckets: int = 256,
) -> dict[str, DataFrame]:
    """Materialize (once per warehouse) the ingest-time bucket layout
    and return the bucketed DataFrames. Each table is written with
    Spark native ``bucketBy(n_buckets, key)`` — at read time the scan
    reports ``HashPartitioning(key, n_buckets)``, so an equi-join on
    the bucket key needs NO exchange on that side. The build cost is
    ingest-time (paid once, like any warehouse load); per-table build
    seconds are recorded in ``LAST_BUILD_SECS`` so benchmarks can
    report it honestly rather than hide it."""
    tables = tables or STAR_BUCKETS
    if isinstance(tables, str):
        tables = LAYOUTS[tables]
    out: dict[str, DataFrame] = {}
    for table, spec in tables.items():
        key = spec["key"]
        nb = n_buckets * spec.get("buckets_mult", 1)
        cols = spec.get("columns")
        name = bucketed_table_name(sf_dir, table, n_buckets, spec)
        if not spark.catalog.tableExists(name):
            src = load_table(spark, sf_dir, table)
            if cols:
                src = src.select(*cols)
            # bucket METADATA lives in the session catalog (in-memory
            # here; Hive/Glue/Unity on a deployment) while the bucketed
            # FILES persist in the warehouse — a fresh session finding
            # the files re-declares the same bucket spec over them
            # (bucket ids are encoded in the file names, so the layout
            # is self-describing)
            loc = os.path.join(
                spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                    "file:"
                ),
                name.lower(),
            )
            if os.path.exists(os.path.join(loc, "_SUCCESS")):
                ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in src.schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {name} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({key}) INTO {nb} BUCKETS "
                    f"LOCATION '{loc}'"
                )
            else:
                t0 = time.time()
                (
                    # repartition on the bucket key first: bucketBy
                    # writes one file per (input partition x bucket),
                    # so an unaligned write fragments every bucket
                    # into hundreds of tiny files (measured: 3201
                    # files for orders at sf10, scan-dominated).
                    # repartition uses the same murmur3 hash as the
                    # bucket router, so each task owns exactly one
                    # bucket -> one well-sized file per bucket.
                    src.repartition(nb, F.col(key))
                    .write.bucketBy(nb, key)
                    .mode("overwrite")
                    .format("parquet")
                    .saveAsTable(name)
                )
                LAST_BUILD_SECS[name] = round(time.time() - t0, 3)
        out[table] = spark.table(name)
    return out


def _nation_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region-filtered nation dim: <= 25 rows forever (TPC-H dims are
    constant-size) — the ONLY broadcast this star plan ever does."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    return F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )


def _q05_from_parts(
    li: DataFrame, o: DataFrame, c: DataFrame, nr: DataFrame
) -> DataFrame:
    """The shared no-driver-build q05 body. Every join is hinted
    SHUFFLE_HASH: hash tables are built per-partition on executors
    (size |partition's share of the build side|), the streamed side is
    never sorted, and the driver holds nothing but the 25-row nation
    map. Join order mirrors selectivity: orders filter -> custkey join
    (narrowed to two columns each side) -> orderkey join against the
    fact -> 25-group aggregate. Everything that touches a fact row is
    integer-keyed: the per-order payload is the 4-byte nationkey (not
    the name string), so the 600 M-row hash aggregate runs on a long
    key (measured 258 ns/row -> see DEPLOY_BENCH; string grouping at
    that row count is pure waste) and the name joins in against the
    25-row dim AFTER aggregation."""
    revenue = F.col("l_extendedprice").cast("double") * (
        F.lit(1.0) - F.col("l_discount").cast("double")
    )
    cmap = c.select("c_custkey", "c_nationkey").join(
        nr.select("n_nationkey"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    onk = (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey")
        .join(cmap.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.col("n_nationkey").alias("nk"))
    )
    per_nk = (
        li.select("l_orderkey", revenue.alias("rev"))
        .join(onk.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nk")
        .agg(
            F.sum("rev").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    return per_nk.join(nr, per_nk.nk == nr.n_nationkey).select(
        F.col("n_name").alias("nation"), "revenue", "n_lineitems"
    )


def q05_plan_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q05 with executor-side builds on the plain (unbucketed) layout:
    the fact pays one shuffle on l_orderkey, nothing is built on the
    driver, nothing is sorted. The plan that works on ANY layout."""
    return _q05_from_parts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        _nation_map(spark, sf_dir),
    )


def q05_plan_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256
) -> DataFrame:
    """q05 as a storage-partitioned join over the ingest-time bucket
    layout: the 600 M-row fact is scanned in place from its covering
    projection (its buckets ARE the join partitioning — zero
    exchange, zero sort), the custkey join is bucket-co-located on
    both sides, and the only data that moves is the (o_orderkey,
    n_name) map, aligned to the fact's 4x bucket count. At 100 TB
    this is the difference between shuffling the fact table's
    terabytes and shuffling gigabytes of qualifying-order keys;
    ``n_buckets`` scales with the dim side (per-task probe maps stay
    L2-sized because the fact multiplies it by 4)."""
    b = ensure_bucketed_layout(spark, sf_dir, n_buckets=n_buckets)
    return _q05_from_parts(
        b["lineitem"], b["orders"], b["customer"], _nation_map(spark, sf_dir)
    )


def star_plan(
    spark: SparkSession,
    sf_dir: str,
    *,
    layout: str | dict,
    fact: str,
    dims: list[dict],
    n_buckets: int = 256,
    fact_transform=None,
    broadcast_budget_bytes: int = 128 << 20,
) -> DataFrame:
    """Generic star composition over a registered bucket layout (the
    r8 ask: promote the q05-only facility to a reusable planner).
    ``fact`` names the layout's fact table; each dim spec declares its
    join and — the part that decides 100 TB survival — its STRATEGY:

    - ``{"name": t, "on": (fcol, dcol), "strategy": "colocated"}``
      the dim is in the layout, bucketed on its join key with the
      same bucket count as the fact: the join is storage-partitioned,
      ZERO exchange on both sides (the only strategy that works when
      both relations are table-sized, e.g. lineitem ⨝ orders).
    - ``{"df": df, "on": ..., "strategy": "shuffle_hash"}``
      executor-side hash build: right for a GROWING dim (part,
      supplier — table-sized at 100 TB, so driver broadcast dies) —
      the fact pays a shuffle but nothing sorts and nothing lands on
      the driver.
    - ``{"df": df, "on": ..., "strategy": "broadcast"}``
      ONLY for constant-size dims (nation/region: bounded by the
      world, not the data).
    - ``{"df": df, "on": ..., "strategy": "auto"}``
      size-adaptive: broadcast while the (pre-filtered) dim fits
      ``broadcast_budget_bytes`` — MEASURED with a count job (the dim
      is small relative to the fact by premise; stats-based estimates
      lie after a LIKE filter) at ~24 bytes/column — else degrade to
      shuffle_hash. This is the strategy for a dim that grows with
      the data but is FILTERED before the join (q50's widget parts:
      12.5% of 20 M parts broadcasts fine at sf100; at 100 TB the
      same spec quietly becomes an executor-side build). Decisions
      are recorded in ``LAST_STAR_DECISIONS`` so benchmarks report
      which path a run actually took.

    Joins apply in list order; supply pre-filtered/pre-projected
    ``df``s so predicate and column pruning reach the scans. A
    colocated dim can't take a caller ``df`` (the caller has no handle
    on the bucketed table) — pass ``"transform": fn`` instead and it
    is applied to the bucketed frame; filters/projections preserve the
    bucket HashPartitioning, so the join stays exchange-free. A
    colocated dim may also set ``"build": "fact"`` to hash-build the
    (often smaller, e.g. semi-filtered) fact side and stream the dim.

    ``fact_transform`` is applied to the bucketed FACT before any dim
    join — the hook for selectivity pushdown (a filter, or a
    broadcast LEFT-SEMI against a keys-only dim projection): both
    preserve the bucket partitioning, so the colocated joins stay
    exchange-free while every downstream shuffle carries only the
    qualifying fraction of the fact."""
    if any(d["strategy"] == "auto" for d in dims):
        # "last decisions" = the last plan that actually DECIDED
        # something; a later auto-free plan (q56) must not wipe the
        # record a bench artifact is about to stamp.
        LAST_STAR_DECISIONS.clear()
    b = ensure_bucketed_layout(spark, sf_dir, tables=layout, n_buckets=n_buckets)
    df = b[fact]
    if fact_transform is not None:
        df = fact_transform(df)
    for d in dims:
        strat = d["strategy"]
        if strat == "colocated":
            if d.get("name") not in b:
                raise ValueError(
                    f"colocated dim {d.get('name')!r} not in layout"
                )
            if d.get("df") is not None:
                raise ValueError(
                    f"colocated dim {d.get('name')!r} takes no caller "
                    "'df' (the join must read the bucketed layout to "
                    "stay exchange-free) — pass 'transform': fn, which "
                    "is applied to the bucketed frame"
                )
            other = b[d["name"]]
            if d.get("transform") is not None:
                other = d["transform"](other)
        else:
            other = d["df"]
        fcol, dcol = d["on"]
        if strat == "auto":
            # the fingerprint keys the MEASURED frame, not just the
            # join column: two differently-filtered dims on the same
            # column must not share a size estimate (a stale hit could
            # wrongly broadcast an unfiltered table). semanticHash
            # normalizes expression ids, so repeated identical plans
            # still hit the cache.
            ck = (sf_dir, fact, dcol, other.semanticHash())
            est = _AUTO_SIZE_CACHE.get(ck)
            if est is None:
                est = other.count() * 24 * len(other.columns)
                _AUTO_SIZE_CACHE[ck] = est
            strat = (
                "broadcast"
                if est <= broadcast_budget_bytes
                else "shuffle_hash"
            )
            LAST_STAR_DECISIONS[dcol] = {
                "est_bytes": int(est), "chose": strat,
            }
        if strat == "broadcast":
            other = F.broadcast(other)
        elif strat == "shuffle_hash":
            other = other.hint("shuffle_hash")
        elif strat == "colocated":
            # both sides already report the bucket HashPartitioning, so
            # no exchange either way — the hint picks the executor-side
            # hash build over sort-merge (which would SORT the fact in
            # place: no shuffle, but a full fact-side sort per query).
            # "build": "fact" hints the fact leg instead: the hash map
            # is built from the (semi-filtered, smaller) fact rows and
            # the dim streams — measured ~1 s at sf100 where the fact
            # side holds 75 M rows vs orders' 150 M.
            if d.get("build") == "fact":
                df = df.hint("shuffle_hash")
            else:
                other = other.hint("shuffle_hash")
        else:
            raise ValueError(f"unknown strategy {strat!r}")
        df = df.join(other, F.col(fcol) == F.col(dcol))
    return df


def q50_plan_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256,
    broadcast_budget_bytes: int = 128 << 20,
) -> DataFrame:
    """q50 (TPC-H Q9 shape: product-line profit by supplier nation and
    order year) as a ``star_plan`` over the ``orderkey_star`` layout —
    the second pinned zero-fact-exchange star (r8 ask #5).

    The scale-killer in the fixture plan (plans/tpch_extra2.py:113) is
    the lineitem ⨝ orders join: BOTH sides are table-sized, so neither
    broadcasts, and a shuffle join moves the 600 M-row fact AND the
    150 M-row orders every query. Here both are read from their
    co-bucketed covering projections: the scans ARE the join
    partitioning — zero exchange, zero sort on the fact-fact join.

    Three measured refinements from the first sf100 run (33.1 s,
    21.5 GB shuffled — the part/supplier decorations were moving the
    FULL fact):

    1. **Selectivity pushdown**: the fact scan is LEFT-SEMI filtered
       against the qualifying PARTKEY SET (keys-only broadcast — 8
       B/key; past broadcast size this becomes a bloom runtime
       filter, same plan position) BEFORE any join. The broadcast
       semi preserves the bucket partitioning, so the colocated
       orders join stays exchange-free and every downstream shuffle
       carries only the qualifying ~12.5% (21.5 -> 4.6 GB, 33.1 ->
       19.3 s).
    2. **Fact-side build** on the colocated join: the semi-filtered
       fact (75 M rows at sf100) is the hash-build side, the 150 M
       orders stream (~1 s).
    3. **strategy="auto" dims**: the LIKE-filtered part payload and
       the supplier->nation map are measured against a 128 MB
       broadcast budget — they fit at sf100 (40 MB / 30 MB) so the
       remaining shuffles disappear; at 100 TB the same specs
       measure over budget and degrade to executor-built
       shuffle-hash (the 19.3 s plan, also measured). Which path ran
       is recorded in ``LAST_STAR_DECISIONS``.

    Deployment numeric profile (double sums) — the bit-exact decimal
    twin stays in the registry."""
    widget = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    pkeys = widget.select("p_partkey")
    p = widget.select("p_partkey", "p_retailprice")
    # supplier -> nation name map: the 25-row nation dim folds into
    # the supplier payload before the fact ever sees either
    smap = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    joined = star_plan(
        spark,
        sf_dir,
        layout="orderkey_star",
        fact="lineitem",
        fact_transform=lambda li: li.join(
            F.broadcast(pkeys), F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        ),
        dims=[
            {
                "name": "orders",
                "on": ("l_orderkey", "o_orderkey"),
                "strategy": "colocated",
                "build": "fact",
                "transform": lambda o: o.select(
                    "o_orderkey", F.year("o_orderdate").alias("o_year")
                ),
            },
            {
                "df": p,
                "on": ("l_partkey", "p_partkey"),
                "strategy": "auto",
            },
            {
                "df": smap,
                "on": ("l_suppkey", "s_suppkey"),
                "strategy": "auto",
            },
        ],
        n_buckets=n_buckets,
        broadcast_budget_bytes=broadcast_budget_bytes,
    )
    vol = F.col("l_extendedprice").cast("double") * (
        F.lit(1.0) - F.col("l_discount").cast("double")
    )
    cost = (
        F.col("l_quantity").cast("double")
        * F.col("p_retailprice").cast("double")
        * F.lit(0.2)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.col("o_year"),
    ).agg(
        F.sum(vol - cost).alias("profit"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q56_plan_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256
) -> DataFrame:
    """q56 (TPC-H Q21 shape: suppliers who were the SOLE late supplier
    on a finalized multi-supplier order) as a ``star_plan`` over the
    SAME ``orderkey_star`` layout q50 uses (r9 ask #7: a third star
    shape through the registry, reusing stored layout capital instead
    of minting a per-query copy).

    This shape is the registry's best case: after the zero-exchange
    fact ⨝ orders join, EVERY downstream clustering requirement is
    already satisfied by the bucket partitioning —

    - groupBy (l_orderkey, l_suppkey): HashPartitioning(l_orderkey)
      clusters any key set CONTAINING l_orderkey, so the per-(order,
      supplier) aggregate runs with no exchange and no partial/final
      split (one pass).
    - the per-order windows partition by l_orderkey: same property —
      a local sort, zero shuffle.

    So the only exchange in the whole plan is the final 20-row
    top-k's singlePartition gather plus the supplier decoration join
    on the (tiny) surviving rows — at any scale the fact is scanned
    once from its covering projection and never moves. supplier joins
    shuffle_hash (it grows with the data; broadcast dies at 100 TB);
    the status filter is pushed into the colocated orders scan via
    the ``transform`` hook (filters preserve bucket partitioning)."""
    from pyspark.sql.window import Window

    joined = star_plan(
        spark,
        sf_dir,
        layout="orderkey_star",
        fact="lineitem",
        dims=[
            {
                "name": "orders",
                "on": ("l_orderkey", "o_orderkey"),
                "strategy": "colocated",
                "transform": lambda o: o.filter(
                    F.col("o_orderstatus") == "F"
                ).select("o_orderkey", "o_orderdate"),
            },
        ],
        n_buckets=n_buckets,
    )
    enriched = joined.select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
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
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        flagged.filter(
            (F.col("supp_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(supp.hint("shuffle_hash"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q49_plan_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256
) -> DataFrame:
    """q49 (TPC-H Q2 shape: min-cost supplier per part) over the
    ``partkey_star`` layout — the THIRD layout axis through the
    registry (r10 ask #7), and the proof the axis generalizes past
    joins: q49 has NO fact-fact join at all, yet the layout removes
    its only fact-sized exchange, because the per-(part,supplier)
    aggregate's keys CONTAIN the bucket key (HashPartitioning on
    l_partkey clusters any superset) and the min-per-part window
    partitions BY the bucket key. The 600 M-row fact is scanned once
    from its covering projection and never moves; the only exchanges
    left touch the ~|part x supp| aggregate output: the supplier
    decoration joins shuffle_hash (supplier grows with the data —
    broadcast dies at 100 TB), the 25-row nation map broadcasts —
    with the colocated part filter in q84_plan_bucketed, all three
    registry strategies measured on this axis."""
    from pyspark.sql.window import Window

    li = star_plan(
        spark, sf_dir, layout="partkey_star", fact="lineitem", dims=[],
        n_buckets=n_buckets,
    )
    vol = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")
    rev = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(vol).alias("supp_cost")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        rev.withColumn(
            "__min_cost",
            F.min("supp_cost").over(Window.partitionBy("l_partkey")),
        )
        .filter(F.col("supp_cost") == F.col("__min_cost"))
        .join(
            supp.hint("shuffle_hash"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "l_partkey", "s_name", "n_name",
            F.col("supp_cost").cast("double").alias("supp_cost"),
        )
    )


Q84_BRANDS = ("Brand#3", "Brand#7")


def q84_plan_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256
) -> DataFrame:
    """q84 (TPC-H Q17 proper: small-quantity revenue for selected
    brands) over ``partkey_star`` — the axis's fact-fact shape: the
    per-part average and the rows it gates are BOTH lineitem-derived,
    so the classic plan is a fact-sized self-join that can never
    broadcast. Here every leg rides the bucket partitioning:

    - the brand filter applies through the COLOCATED part join
      (equal bucket counts, zero exchange either side — part is
      table-sized at 100 TB, the broadcast in the registry twin is
      small-scale convenience);
    - the per-part avg aggregate groups BY the bucket key: no
      exchange, no partial/final split;
    - the avg -> lineitem join-back joins two subtrees that both
      inherit HashPartitioning(l_partkey) at the same partition
      count from the same stored layout: EnsureRequirements inserts
      NOTHING — a storage-partitioned self-join (the hint picks the
      executor hash build over sort-merge so nothing sorts);
    - the final (brand, part) aggregate's keys contain the bucket
      key: exchange-free again.

    Registry twin (plans/tpch_extra2.py q84) keeps the
    decorrelated-window single-scan form — best plan on an ARBITRARY
    layout; this is the plan the layout capital buys."""
    joined = star_plan(
        spark, sf_dir, layout="partkey_star", fact="lineitem",
        dims=[
            {
                "name": "part",
                "on": ("l_partkey", "p_partkey"),
                "strategy": "colocated",
                "transform": lambda p: p.filter(
                    F.col("p_brand").isin(*Q84_BRANDS)
                ),
            },
        ],
        n_buckets=n_buckets,
    )
    avg = joined.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        joined.join(
            avg.hint("shuffle_hash"), F.col("l_partkey") == F.col("__pk")
        )
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("small_revenue"),
        )
    )
