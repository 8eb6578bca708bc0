"""Semantics-preserving fixture amplifier: sf0.1 -> sfN measured runs.

The r4 verdict's binding constraint: every 100 TB claim rested on
plan-shape assertions because nothing had ever RUN at a scale where
shuffle spill, AQE coalescing, or skew handling actually engage
(driver fixtures stop at 17 MB). This tool synthesizes an arbitrarily
larger fixture from sf0.1 by replicating each table R times with
per-replica key remapping, preserving the properties the engine's
queries depend on:

- **Join selectivity**: every FK offset matches its PK's offset
  (replica k's orders reference replica k's customers), so joins hit
  exactly as often as at sf0.1 — per-key fan-in is constant, data
  volume is R x.
- **Dims stay dim-sized**: region/nation are NOT amplified (real star
  schemas don't grow their dims with the fact), so broadcast plans
  stay broadcast plans.
- **Dedup structure scales linearly, not quadratically**: each
  replica's document text is token-salted with the replica id, so
  near-dup pairs exist WITHIN replicas (R x as many pairs) but not
  across them — amplifying a corpus by R must not turn every doc into
  an R-member duplicate cluster (that would grow LSH candidate pairs
  R^2 x and misrepresent the workload).
- **Embedding geometry**: replica k>0 vectors get a deterministic
  per-(replica, id, position) perturbation at the 1e-3 scale — large
  enough that no two replicas are identical vectors, small enough
  that cluster structure (labels) survives.
- **Per-key streaming state stays bounded**: user_id/event_id offsets
  mean R x more keys with the SAME per-key event count — state size
  per key is constant, matching how real traffic scales.
- **ts is written as TIMESTAMP_NTZ**: parquet INT64
  ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, the physical type the
  driver fixtures' timestamps already have, which the catalog's
  declared ``timestamp`` reads as the same wall clock.

Usage: python tools/scale_up.py --factor 100 --out /root/repo/.scale/sf10
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_notifier_pipeline_spark.catalog import load_table  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402

# Key strides: one above the max key in sf0.1 with headroom; FK and PK
# strides must match table-to-table or replica joins would miss.
K1 = 1_000_000  # customer / supplier / part / user / doc / vec keys
K2 = 10_000_000  # orderkey / event_id


def _rep(df: DataFrame, factor: int, n_files: int | None = None) -> DataFrame:
    """Cross df with the replica axis (tiny broadcast side).

    ``n_files`` pre-partitions the SOURCE before the explosion so the
    fan-out runs n_files-wide and the written layout needs no
    post-explosion shuffle. Repartitioning the EXPLODED frame instead
    moved factor x the data through however few splits the source had
    — at factor 1000, lineitem was a ~60 GB shuffle written by 3 map
    tasks (measured >30 min); shuffling the 11 MB source costs
    nothing. Row content is identical either way (every derived
    column is a function of row values + __rep, never of layout)."""
    spark = df.sparkSession
    reps = spark.range(factor).select(F.col("id").cast("long").alias("__rep"))
    if n_files is not None:
        df = df.repartition(n_files)
    return df.crossJoin(F.broadcast(reps))


def amplify(
    spark: SparkSession, src: str, out: str, factor: int,
    only: set[str] | None = None,
) -> dict[str, int]:
    os.makedirs(out, exist_ok=True)
    rep = F.col("__rep")
    counts: dict[str, int] = {}

    def write(
        name: str, df: DataFrame, n_files: int, *, shaped: bool = False
    ) -> None:
        """``shaped=True`` = the frame was pre-partitioned upstream of
        the replica explosion (_rep(n_files=...)): write as-is, no
        post-explosion shuffle."""
        if only is not None and name not in only:
            return
        t0 = time.time()
        path = os.path.join(out, f"{name}.parquet")
        out_df = df if shaped else df.repartition(n_files)
        out_df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        counts[name] = n
        print(f"  {name}: {n:,} rows in {time.time()-t0:.1f}s -> {path}")

    # dims: copied, not amplified
    for name in ("region", "nation"):
        write(name, load_table(spark, src, name), 1)

    cust = _rep(load_table(spark, src, "customer"), factor, max(1, factor // 8)).select(
        (F.col("c_custkey") + rep * K1).alias("c_custkey"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    write("customer", cust, max(1, factor // 8), shaped=True)

    supp = _rep(load_table(spark, src, "supplier"), factor, max(1, factor // 16)).select(
        (F.col("s_suppkey") + rep * K1).alias("s_suppkey"),
        "s_name", "s_nationkey", "s_acctbal",
    )
    write("supplier", supp, max(1, factor // 16), shaped=True)

    part = _rep(load_table(spark, src, "part"), factor, max(1, factor // 8)).select(
        (F.col("p_partkey") + rep * K1).alias("p_partkey"),
        "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
    )
    write("part", part, max(1, factor // 8), shaped=True)

    orders = _rep(load_table(spark, src, "orders"), factor, max(1, factor // 2)).select(
        (F.col("o_orderkey") + rep * K2).alias("o_orderkey"),
        (F.col("o_custkey") + rep * K1).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    write("orders", orders, max(1, factor // 2), shaped=True)

    li = _rep(load_table(spark, src, "lineitem"), factor, factor).select(
        (F.col("l_orderkey") + rep * K2).alias("l_orderkey"),
        (F.col("l_partkey") + rep * K1).alias("l_partkey"),
        (F.col("l_suppkey") + rep * K1).alias("l_suppkey"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    write("lineitem", li, factor, shaped=True)

    ev = _rep(load_table(spark, src, "events"), factor, max(1, factor // 2)).select(
        (F.col("event_id") + rep * K2).alias("event_id"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        (F.col("user_id") + rep * K1).alias("user_id"),
        "event_type", "value", "props",
    )
    write("events", ev, max(1, factor // 2), shaped=True)

    # replica 0 keeps the original text verbatim; k>0 salts every
    # token with the replica id so near-dup structure is per-replica
    salted = F.when(
        rep == 0, F.col("text")
    ).otherwise(
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(t, F.lit("_r"), rep.cast("string")),
            ),
            " ",
        )
    )
    docs = _rep(load_table(spark, src, "documents"), factor, max(1, factor // 4)).select(
        (F.col("doc_id") + rep * K1).alias("doc_id"),
        salted.alias("text"),
        "lang", "source",
    ).withColumn("n_chars", F.length("text").cast("long"))
    write("documents", docs, max(1, factor // 4), shaped=True)

    # Replica k>0 vectors get (a) a deterministic per-replica AFFINE
    # PERMUTATION of the 64 dimensions (pos -> (a*pos + b) % 64, a odd
    # => bijection; identity for k=0) and (b) a per-(replica, id,
    # position) jitter at 1e-3 scale. The permutation preserves every
    # intra-replica norm and angle bit-for-bit — replica k's cluster
    # structure IS sf0.1's — while decorrelating vectors ACROSS
    # replicas, so amplification adds new content clusters instead of
    # stacking near-duplicate copies of the old ones. (The first cut
    # of this tool used jitter alone; at cosine thresholds ~0.95 every
    # vector then had R-1 cross-replica near-dups, IVF cells grew R x
    # denser, and intra-cell candidate pairs grew R^2 x — measured as
    # a 40x s09 blowup at factor 10. Text got per-replica salting for
    # exactly this reason; embeddings need the equivalent.)
    emb_src = load_table(spark, src, "embeddings")
    n_dim = len(emb_src.select("embedding").head()[0])
    jitter = (
        F.pmod(
            F.hash(rep, F.col("vec_id"), F.col("pos")), F.lit(2001)
        ).cast("double")
        - 1000.0
    ) / 1_000_000.0
    a = (F.pmod(rep, F.lit(n_dim // 2)) * 2 + 1).cast("long")
    b = F.pmod(rep * 7, F.lit(n_dim)).cast("long")
    # The (a, b) family has only lcm(n_dim/2, n_dim) = 64 members, so
    # replica 64+k would repeat replica k's layout and differ only by
    # jitter — every vector a cross-replica near-duplicate (measured:
    # 36/100 replicas collided at factor 100 and s09 dropped 35.7% of
    # the corpus). A per-(replica, position) SIGN FLIP composes with
    # the permutation: diagonal +-1 maps preserve intra-replica norms
    # and dot products exactly (s_i^2 = 1) while giving 2^64 distinct
    # cross-replica patterns. Identity for replica 0.
    flip = F.when(
        (rep > 0) & (F.pmod(F.hash(rep, F.col("pos")), F.lit(2)) == 1),
        F.lit(-1.0),
    ).otherwise(F.lit(1.0))
    emb = (
        _rep(emb_src, factor)
        .select(
            (F.col("vec_id") + rep * K1).alias("vec_id"),
            "label", "__rep",
            F.posexplode("embedding").alias("pos0", "x"),
        )
        .withColumn("pos", F.pmod(a * F.col("pos0") + b, F.lit(n_dim)))
        .select(
            "vec_id", "label", "pos",
            F.when(F.col("__rep") == 0, F.col("x").cast("double"))
            .otherwise(flip * (F.col("x").cast("double") + jitter))
            .alias("x"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "x"))
            ).alias("px")
        )
        .select(
            "vec_id",
            F.transform(
                F.col("px"), lambda s: s.getField("x").cast("float")
            ).alias("embedding"),
            "label",
        )
    )
    write("embeddings", emb, max(1, factor // 16))
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--only", default=None,
        help="comma-separated table subset to (re)generate",
    )
    args = ap.parse_args()
    spark = get_spark("scale-up")
    t0 = time.time()
    only = set(args.only.split(",")) if args.only else None
    counts = amplify(spark, args.src, args.out, args.factor, only=only)
    print(
        f"amplified x{args.factor} in {time.time()-t0:.1f}s; "
        f"lineitem={counts.get('lineitem', 0):,}"
    )


if __name__ == "__main__":
    main()
