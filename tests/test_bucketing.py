"""Bucketing: the co-located-join story at scale (brief: 'bucketing for
co-located joins'). Writing both sides bucketed by the join key lets
the join run with ZERO exchanges — asserted against the plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    # warehouse dir is a static conf, set session-wide in conftest
    ev = load_table(spark, SF_DIR, "events")
    signup = ev.filter(F.col("event_type") == "signup")
    purchase = ev.filter(F.col("event_type") == "purchase")
    for name, df in (("b_signup", signup), ("b_purchase", purchase)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "user_id")
            .sortBy("user_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    return spark


def test_bucketed_join_has_no_shuffle(bucketed):
    spark = bucketed
    # disable auto-broadcast so the plan must use the bucket layout
    # (at real scale neither side would be broadcastable anyway)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_signup")
            .alias("s")
            .join(spark.table("b_purchase").alias("p"), "user_id")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: the join introduces no exchange, and the groupBy
        # on the bucket key is exchange-free too
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_matches_plain_join(bucketed):
    spark = bucketed
    a = (
        spark.table("b_signup")
        .join(spark.table("b_purchase"), "user_id", "left_semi")
        .select("event_id")
    )
    ev = load_table(spark, SF_DIR, "events")
    b = (
        ev.filter(F.col("event_type") == "signup")
        .join(
            ev.filter(F.col("event_type") == "purchase"), "user_id", "left_semi"
        )
        .select("event_id")
    )
    assert sorted(r[0] for r in a.collect()) == sorted(r[0] for r in b.collect())


def test_registry_q05_adaptive_strategies_agree(spark, monkeypatch):
    """The registry q05 picks its join strategy by dim size; both
    strategies must produce the identical decimal-exact oracle answer
    (values, not approximations — the bit-exact hash contract)."""
    from etl_notifier_pipeline_spark.plans import relational as R

    def run():
        return {
            r["nation"]: (float(r["revenue"]), r["n_lineitems"])
            for r in R.q05_revenue_by_nation(spark, SF_DIR).collect()
        }

    assert R._table_bytes(SF_DIR, "customer") < R.BROADCAST_DIM_LIMIT
    small = run()
    monkeypatch.setattr(R, "BROADCAST_DIM_LIMIT", -1)  # force scale path
    big = run()
    assert small == big and len(small) > 0
