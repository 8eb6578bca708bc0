"""Mutation-library unit tests (SURVEY §5.3): key-collision matrices,
missing-PK error, first/last-wins batch semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.operators import (
    MissingKeyError,
    delete_by_keys,
    deleted_count,
    filter_new_deletes,
    insert_if_absent,
    upsert,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "name", "v"]
    )


def test_insert_if_absent_skips_existing_and_first_wins(spark, target):
    incoming = spark.createDataFrame(
        # k=2 exists (skipped); k=3 duplicated in-batch -> first by ord wins
        [(2, "B", 99.0, 1), (3, "c1", 30.0, 2), (3, "c2", 31.0, 3)],
        ["k", "name", "v", "ord"],
    )
    out = insert_if_absent(target, incoming.drop("ord"), ["k"], ["v"])
    assert rows(out) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c1", 30.0)]


def test_upsert_last_wins_and_inserts(spark, target):
    incoming = spark.createDataFrame(
        [(2, "B1", 98.0, 1), (2, "B2", 99.0, 2), (4, "d", 40.0, 3)],
        ["k", "name", "v", "ord"],
    )
    out = upsert(target, incoming.drop("ord"), ["k"], ["v"])
    # k=2 updated with the LAST batch row (v=99), k=4 inserted
    assert rows(out) == [(1, "a", 10.0), (2, "B2", 99.0), (4, "d", 40.0)]


def test_upsert_missing_key_errors(spark, target):
    incoming = spark.createDataFrame([("x", 1.0)], ["name", "v"])
    with pytest.raises(MissingKeyError):
        upsert(target, incoming, ["k"], ["v"])


def test_delete_by_keys_and_count(spark, target):
    keys = spark.createDataFrame([(1,), (1,), (99,)], ["k"])
    assert rows(delete_by_keys(target, keys, ["k"])) == [(2, "b", 20.0)]
    assert deleted_count(target, keys, ["k"]) == 1


def test_filter_new_deletes(spark):
    new = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    pending = spark.createDataFrame([(2,)], ["k"])
    assert rows(filter_new_deletes(new, pending, ["k"])) == [(1,), (3,)]


def test_mutation_idempotence(spark, target):
    """f(f(x)) == f(x) for insert-if-absent (SURVEY §5.5 property)."""
    incoming = spark.createDataFrame([(3, "c", 30.0)], ["k", "name", "v"])
    once = insert_if_absent(target, incoming, ["k"], ["v"])
    twice = insert_if_absent(once, incoming, ["k"], ["v"])
    assert rows(once) == rows(twice)


def test_scd2_upsert_close_and_insert(spark):
    from etl_notifier_pipeline_spark.operators.scd import scd2_upsert

    target = spark.createDataFrame(
        [
            (1, "ann", "2024-01-01", "2025-01-01"),   # historical row
            (1, "anne", "2025-01-01", None),          # current, will change
            (2, "bob", "2025-01-01", None),           # current, unchanged
            (3, "cyd", "2025-01-01", None),           # current, not in batch
        ],
        ["k", "name", "valid_from", "valid_to"],
    )
    incoming = spark.createDataFrame(
        [(1, "anna"), (2, "bob"), (4, "dee")], ["k", "name"]
    )
    out = scd2_upsert(target, incoming, ["k"], "2026-01-01")
    rows = {(r["k"], r["name"], r["valid_from"], r["valid_to"])
            for r in out.collect()}
    assert rows == {
        (1, "ann", "2024-01-01", "2025-01-01"),   # history untouched
        (1, "anne", "2025-01-01", "2026-01-01"),  # closed
        (1, "anna", "2026-01-01", None),          # new current version
        (2, "bob", "2025-01-01", None),           # unchanged: no new version
        (3, "cyd", "2025-01-01", None),           # untouched
        (4, "dee", "2026-01-01", None),           # brand-new key
    }
    # idempotency: re-applying the same batch changes nothing
    again = scd2_upsert(out, incoming, ["k"], "2027-01-01")
    assert again.count() == out.count()


class TestIncrementalAggregates:
    def test_merge_equals_full_recompute(self, spark):
        """merge(agg(base), agg(delta)) == agg(base ∪ delta) for
        sum/count/max/min — including brand-new groups, exact decimal
        sums, and a second fold (associativity over batches)."""
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.operators.incremental import (
            agg_delta,
            merge_aggregates,
        )

        aggs = {
            "total": ("sum", F.sum(F.col("v").cast("decimal(12,2)"))),
            "n": ("count", F.count(F.lit(1))),
            "mx": ("max", F.max("v")),
            "mn": ("min", F.min("v")),
        }
        kinds = {k: kind for k, (kind, _) in aggs.items()}

        base = spark.createDataFrame(
            [("a", 1.5), ("a", 2.25), ("b", -3.0)], ["g", "v"]
        )
        d1 = spark.createDataFrame(
            [("a", 10.0), ("c", 7.75)], ["g", "v"]  # c is a new group
        )
        d2 = spark.createDataFrame([("b", 100.0)], ["g", "v"])

        stored = agg_delta(base, ["g"], aggs)
        stored = merge_aggregates(stored, agg_delta(d1, ["g"], aggs), ["g"], kinds)
        stored = merge_aggregates(stored, agg_delta(d2, ["g"], aggs), ["g"], kinds)

        full = agg_delta(base.union(d1).union(d2), ["g"], aggs)
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_holistic_aggregates_rejected(self, spark):
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.operators.incremental import (
            agg_delta,
            merge_aggregates,
        )

        with pytest.raises(ValueError, match="non-mergeable"):
            agg_delta(
                spark.range(1), ["id"], {"m": ("median", F.median("id"))}
            )
        with pytest.raises(ValueError, match="non-mergeable"):
            merge_aggregates(spark.range(1), spark.range(1), ["id"], {"x": "avg"})


def test_snapshot_diff_classifies_and_null_safe(spark):
    from etl_notifier_pipeline_spark.operators import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "C", 30.0), (4, "d", 41.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["change"], r["old_row"], r["new_row"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    # k=2 unchanged (NULL payload equals NULL payload — eqNullSafe)
    assert set(got) == {1, 3, 4, 5}
    assert got[1][0] == "delete" and got[1][2] is None
    assert got[3][0] == "update" and got[3][2]["s"] == "C"
    assert got[4][0] == "update" and got[4][2]["v"] == 41.0
    assert got[5][0] == "insert" and got[5][1] is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(old, new.withColumnRenamed("v", "w"), ["k"])


class TestChangeFeed:
    """change_feed / apply_change_feed: multi-commit CDC over the
    versioned store, and its defining invariant — replaying the feed
    onto the base snapshot reconstructs the target snapshot exactly."""

    def _store(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "cf"), retain_versions=4)
        v1 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
            "k long, s string, x double",
        )
        v2 = spark.createDataFrame(  # update k=1, delete k=2, insert k=4
            [(1, "A", 10.0), (3, "c", None), (4, "d", 40.0)],
            "k long, s string, x double",
        )
        v3 = spark.createDataFrame(  # re-insert k=2, update k=4 (null flip)
            [(1, "A", 10.0), (2, "b2", 2.0), (3, "c", None), (4, "d", None)],
            "k long, s string, x double",
        )
        for df in (v1, v2, v3):
            store.overwrite("t", df)
        return store

    def test_feed_rows_and_replay_reconstructs(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import (
            apply_change_feed,
            change_feed,
        )

        store = self._store(spark, tmp_path)
        feed = change_feed(store, "t", ["k"])
        got = {
            (r["k"], r["commit_version"]): r["change"]
            for r in feed.collect()
        }
        assert got == {
            (1, 2): "update",
            (2, 2): "delete",
            (4, 2): "insert",
            (2, 3): "insert",
            (4, 3): "update",
        }
        # replay invariant: v1 + feed == v3 (null-flip update included)
        rebuilt = apply_change_feed(
            store.read("t", version=1), feed, ["k"]
        )
        v3 = store.read("t", version=3)
        assert rebuilt.exceptAll(v3).count() == 0
        assert v3.exceptAll(rebuilt).count() == 0

    def test_partial_range_and_empty_feed(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed

        store = self._store(spark, tmp_path)
        only23 = change_feed(store, "t", ["k"], from_version=2, to_version=3)
        assert {r["commit_version"] for r in only23.collect()} == {3}
        empty = change_feed(store, "t", ["k"], from_version=2, to_version=2)
        assert empty.count() == 0
        assert "commit_version" in empty.columns

    def test_vacuumed_version_raises(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "cf2"), retain_versions=2)
        for i in range(4):
            store.overwrite(
                "t", spark.createDataFrame([(i,)], "k long")
            )
        assert store.versions("t") == [3, 4]
        with pytest.raises(ValueError, match="not retained"):
            change_feed(store, "t", ["k"], from_version=1)
        # the retained window still feeds fine
        ok = change_feed(store, "t", ["k"], from_version=3, to_version=4)
        assert ok.count() == 2  # one delete + one insert

    @pytest.mark.parametrize("backend", ["table_store", "bucketed"])
    def test_vacuum_physical_deletion_and_referenced_survival(
        self, spark, tmp_path, backend
    ):
        """The m22 contract, physically: versions past the horizon are
        DELETED from disk (the storage-cost bound), EXCEPT dirs a
        retained manifest still references — restore()'s metadata-only
        commits re-reference old dirs, and vacuuming those would break
        the current head. One protocol for both manifest formats."""
        import os

        from etl_notifier_pipeline_spark.storage import BucketedTableStore, TableStore

        root = str(tmp_path / "vr")
        store = (
            TableStore(spark, root, retain_versions=2) if backend == "table_store"
            else BucketedTableStore(
                spark, root, keys={"t": ["k"]}, n_buckets=4, retain_versions=2
            )
        )
        for i in range(1, 4):  # v1, v2, v3
            store.overwrite("t", spark.createDataFrame([(i,)], "k long"))
        d = store._dir("t")
        assert not os.path.isdir(os.path.join(d, "v=1"))  # vacuumed
        assert os.path.isdir(os.path.join(d, "v=2"))
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            store.read("t", version=1)
        # v4 = metadata-only rollback to v2: its manifest REFERENCES
        # v=2's files without copying them
        store.restore("t", 2)
        # v5 pushes the horizon to {4, 5}: v=3 is now unreferenced and
        # must go; v=2 is outside the horizon but referenced by v4's
        # manifest and must SURVIVE
        store.overwrite("t", spark.createDataFrame([(99,)], "k long"))
        # v=2 stays listed: still on disk (referenced) == still
        # time-travelable, same contract the read() docstring states
        assert store.versions("t") == [2, 4, 5]
        assert os.path.isdir(os.path.join(d, "v=2"))
        assert not os.path.isdir(os.path.join(d, "v=3"))
        assert [r["k"] for r in store.read("t", version=4).collect()] == [2]
        assert [r["k"] for r in store.read("t").collect()] == [99]


class TestCdcViewMaintenance:
    """cdc_agg_delta: maintained view == full recompute after every
    commit, including update-driven group migration and a group
    retracted to zero rows."""

    def test_view_tracks_recompute_per_commit(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            agg_delta,
            cdc_agg_delta,
            merge_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "ivm"), retain_versions=5)
        states = [
            # k, grp, v — k=6/grp=c is the NULL-retraction trap: its
            # only non-NULL value gets updated to NULL while the row
            # survives, so SUM must flip to NULL, not 0 (r6 ADVICE)
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (6, "c", 10.0)],
            # update k=2 migrates a->b; insert k=4 in a
            [
                (1, "a", 10.0),
                (2, "b", 21.0),
                (3, "b", 5.0),
                (4, "a", 1.0),
                (6, "c", 10.0),
            ],
            # delete all of group b (retract to zero), null-value
            # insert in a, group c's last value retracted to NULL
            [(1, "a", 10.0), (4, "a", 1.0), (5, "a", None), (6, "c", None)],
        ]
        for rows in states:
            store.overwrite(
                "t", spark.createDataFrame(rows, "k long, grp string, v double")
            )
        aggs = {
            "d_count": ("count", F.count(F.lit(1))),
            "d_sum": (
                "sum",
                F.coalesce(
                    F.sum(F.col("v").cast("decimal(12,2)")),
                    F.lit(0).cast("decimal(12,2)"),
                ),
            ),
            "d_nn": ("count", F.count(F.col("v"))),
        }
        kinds = {"d_count": "count", "d_sum": "sum", "d_nn": "count"}

        def reported(df):  # what a reader of the maintained view sees
            return df.select(
                "grp",
                F.col("d_count").alias("n"),
                F.when(F.col("d_nn") > 0, F.col("d_sum")).alias("s"),
            )

        view = agg_delta(store.read("t", version=1), ["grp"], aggs)
        for v in (2, 3):
            feed = change_feed(
                store, "t", ["k"], from_version=v - 1, to_version=v
            )
            delta = cdc_agg_delta(feed, "grp", "v")
            view = merge_aggregates(view, delta, ["grp"], kinds).filter(
                F.col("d_count") > 0
            )
            recomputed = (
                store.read("t", version=v)
                .groupBy("grp")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("v").cast("decimal(12,2)")).alias("s"),
                )
            )
            assert reported(view).exceptAll(recomputed).count() == 0
            assert recomputed.exceptAll(reported(view)).count() == 0
        final = {
            r["grp"]: (r["n"], None if r["s"] is None else float(r["s"]))
            for r in reported(view).collect()
        }
        # group b fully retracted; null-value row counts but adds no
        # sum; group c survives with an all-NULL value column -> SUM
        # is NULL (the pre-fix code reported 0.00 here)
        assert final == {"a": (3, 11.0), "c": (1, None)}


class TestWriteTimeCdc:
    """capture_cdc=True (Delta's enableChangeDataFeed): keyed
    mutations persist their change rows at commit time, change_feed
    reads them back O(changes) per commit, and the sidecar feed is
    bit-identical to the snapshot_diff it replaces."""

    def _store(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.storage import BucketedTableStore

        return BucketedTableStore(
            spark,
            str(tmp_path / "cdcstore"),
            keys={"t": ["k"]},
            n_buckets=4,
            retain_versions=10,
            capture_cdc=True,
        )

    def test_sidecar_feed_matches_snapshot_diff(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            snapshot_diff,
        )

        store = self._store(spark, tmp_path)
        base = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(100)],
            "k long, grp string, v double",
        )
        store.overwrite("t", base)  # v1: no sidecar (not a mutation)
        # v2: upsert — 10 real updates, 5 no-op rows (unchanged
        # payload, must NOT appear in the feed), 5 inserts
        batch = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i) + 1000) for i in range(10)]
            + [(i, "g%d" % (i % 3), float(i)) for i in range(20, 25)]
            + [(i, "gX", -1.0) for i in range(100, 105)],
            "k long, grp string, v double",
        )
        store.apply_keyed_mutation("t", batch, ["k"], ["v"], "update")
        # v3: delete 7 keys (2 of them already absent)
        dels = spark.createDataFrame(
            [(i,) for i in range(5)] + [(900,), (901,)], "k long"
        )
        store.apply_keyed_mutation("t", dels, ["k"], [], "delete")

        assert store.cdc_dir("t", 1) is None
        assert store.cdc_dir("t", 2) is not None
        assert store.cdc_dir("t", 3) is not None

        feed = change_feed(store, "t", ["k"], from_version=1, to_version=3)
        want = None
        for v in (1, 2):
            d = snapshot_diff(
                store.read("t", version=v),
                store.read("t", version=v + 1),
                ["k"],
            ).withColumn("commit_version", F.lit(v + 1).cast("long"))
            want = d if want is None else want.unionByName(d)
        assert feed.exceptAll(want).count() == 0
        assert want.exceptAll(feed).count() == 0
        by_commit = {
            (r["commit_version"], r["change"]): r["n"]
            for r in feed.groupBy("commit_version", "change")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert by_commit == {(2, "update"): 10, (2, "insert"): 5, (3, "delete"): 5}

    def test_replay_reconstructs_snapshot(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            apply_change_feed,
        )

        store = self._store(spark, tmp_path)
        base = spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k long, v double"
        )
        store.overwrite("t", base)
        up = spark.createDataFrame(
            [(i, float(i) * 2) for i in range(0, 20, 2)], "k long, v double"
        )
        store.apply_keyed_mutation("t", up, ["k"], ["v"], "update")
        store.apply_keyed_mutation(
            "t",
            spark.createDataFrame([(i,) for i in range(5)], "k long"),
            ["k"],
            [],
            "delete",
        )
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=3)
        rebuilt = apply_change_feed(store.read("t", version=1), feed, ["k"])
        final = store.read("t", version=3)
        assert rebuilt.exceptAll(final).count() == 0
        assert final.exceptAll(rebuilt).count() == 0


class TestRefreshAggregates:
    """refresh_aggregates: non-invertible IVM by touched-group
    re-aggregation — a deleted group max is recomputed, untouched
    groups are carried forward WITHOUT touching the base table."""

    def test_deleted_max_and_carry_forward(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            refresh_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "mmx"), retain_versions=5)
        v1 = [
            (1, "a", 10.0),
            (2, "a", 99.0),  # group a's max — deleted in v2
            (3, "b", 5.0),
            (4, "c", 7.0),   # group c: never touched again
            (5, "d", 1.0),   # group d: fully deleted in v2
        ]
        v2 = [(1, "a", 10.0), (3, "b", 50.0), (4, "c", 7.0), (6, "e", 2.0)]
        for rows in (v1, v2):
            store.overwrite(
                "t", spark.createDataFrame(rows, "k long, grp string, v double")
            )
        exprs = {"mx": F.max("v"), "mn": F.min("v"), "n": F.count(F.lit(1))}
        view = (
            store.read("t", version=1)
            .groupBy("grp")
            .agg(*[e.alias(n) for n, e in exprs.items()])
        )
        # poison group c's stored row: if refresh recomputed untouched
        # groups, the poison would vanish — its survival proves the
        # carry-forward never reads those groups
        poisoned = view.withColumn(
            "mx", F.when(F.col("grp") == "c", F.lit(-777.0)).otherwise(F.col("mx"))
        )
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        out = {
            r["grp"]: (r["mx"], r["mn"], r["n"])
            for r in refresh_aggregates(
                poisoned, store.read("t", version=2), feed, "grp", exprs
            ).collect()
        }
        assert out["a"] == (10.0, 10.0, 1)  # max 99 deleted -> recomputed
        assert out["b"] == (50.0, 50.0, 1)  # update raised the max
        assert out["c"] == (-777.0, 7.0, 1)  # untouched: poison survives
        assert "d" not in out  # group retracted to zero rows vanishes
        assert out["e"] == (2.0, 2.0, 1)  # new group appears


class TestAppendFastPath:
    """Pure-append commits feed change_feed from the appended dirs
    only (O(new bytes)) — identical rows to the snapshot_diff path,
    on both store backends."""

    def test_tablestore_append_feed(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            snapshot_diff,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "afp"), retain_versions=5)
        store.overwrite(
            "t", spark.range(100).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("v"))
        )
        store.append(
            "t",
            spark.range(100, 130).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("v")),
        )
        assert store.appended_dirs("t", 2) is not None
        assert store.appended_dirs("t", 1) is None  # overwrite
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        want = snapshot_diff(
            store.read("t", version=1), store.read("t", version=2), ["k"]
        ).withColumn("commit_version", F.lit(2).cast("long"))
        assert feed.exceptAll(want).count() == 0
        assert want.exceptAll(feed).count() == 0
        assert feed.count() == 30
        assert feed.select("change").distinct().collect()[0][0] == "insert"
        # the fast path scans ONLY the appended dirs: one file, not
        # the v=1 base files
        scans = feed._jdf.queryExecution().executedPlan().toString()
        assert "v=1" not in scans

    def test_bucketed_append_feed(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            snapshot_diff,
        )
        from etl_notifier_pipeline_spark.storage import BucketedTableStore

        store = BucketedTableStore(
            spark, str(tmp_path / "bafp"), keys={"t": ["k"]},
            n_buckets=4, retain_versions=5,
        )
        store.overwrite(
            "t", spark.range(50).select(F.col("id").alias("k"),
                                        F.lit("a").alias("v"))
        )
        store.append(
            "t",
            spark.range(50, 70).select(F.col("id").alias("k"),
                                       F.lit("b").alias("v")),
        )
        assert store.appended_dirs("t", 2) is not None
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        want = snapshot_diff(
            store.read("t", version=1), store.read("t", version=2), ["k"]
        ).withColumn("commit_version", F.lit(2).cast("long"))
        assert feed.exceptAll(want).count() == 0
        assert want.exceptAll(feed).count() == 0
        # a keyed mutation is NOT a pure append (affected buckets'
        # dirs are replaced) — the fast path must decline
        inc = spark.createDataFrame([(1, "Z")], ["k", "v"]).withColumn(
            "__o", F.monotonically_increasing_id()
        )
        store.apply_keyed_mutation("t", inc, ["k"], ["__o"], "update")
        assert store.appended_dirs("t", 3) is None


class TestRestore:
    """restore() is a metadata-only rollback: the new version holds a
    manifest and zero data files, reads serve the restored version's
    exact contents, and undone versions stay time-travelable."""

    @pytest.mark.parametrize("backend", ["table_store", "bucketed"])
    def test_restore(self, spark, tmp_path, backend):
        import os

        from etl_notifier_pipeline_spark.storage import BucketedTableStore, TableStore

        root = str(tmp_path / backend)
        store = (
            TableStore(spark, root, retain_versions=5) if backend == "table_store"
            else BucketedTableStore(
                spark, root, keys={"t": ["k"]}, n_buckets=4, retain_versions=5,
            )
        )
        keyed = lambda rows: spark.createDataFrame(rows, ["k", "v"]).withColumn(  # noqa: E731
            "__o", F.monotonically_increasing_id()
        )
        store.overwrite("t", spark.range(40).select(
            F.col("id").alias("k"), F.lit("ok").alias("v")))
        bad = keyed([(i, "BAD") for i in range(10)])
        store.apply_keyed_mutation("t", bad, ["k"], ["__o"], "update")
        assert store.read("t").filter(F.col("v") == "BAD").count() == 10
        v3 = store.restore("t", 1)
        assert v3 == 3
        cur, v1 = store.read("t"), store.read("t", version=1)
        assert cur.exceptAll(v1).count() == 0
        assert v1.exceptAll(cur).count() == 0
        # metadata-only: the restore commit wrote no data files
        vdir = os.path.join(store._dir("t"), "v=3")
        if backend == "table_store":
            assert not [f for f in os.listdir(vdir) if f.endswith(".parquet")]
        else:
            assert not os.path.isdir(os.path.join(vdir, "data"))
        # the undone version stays time-travelable until vacuumed
        assert store.read("t", version=2).filter(F.col("v") == "BAD").count() == 10
        # history continues past the restore: keyed mutations and
        # appends work on the restored state
        store.apply_keyed_mutation("t", keyed([(0, "fixed")]), ["k"], ["__o"], "update")
        store.append("t", spark.createDataFrame([(100, "new")], ["k", "v"]))
        got = {r["k"]: r["v"] for r in store.read("t").collect()}
        assert (len(got), got[0], got[1], got[100]) == (41, "fixed", "ok", "new")
        with pytest.raises(FileNotFoundError):
            store.restore("t", 99)


class TestCdcReplicationFold:
    """st16's replication fold (apply_change_feed into a replica +
    txn cursor) survives a crash in its non-atomic commit window:
    re-applying a commit's feed to a replica that already absorbed it
    is a no-op (last-write-wins merge, not an increment), so replay
    after ANY crash point converges to the crash-free state."""

    def test_reapply_feed_is_idempotent(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            apply_change_feed,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "src"), retain_versions=3)
        v1 = spark.range(30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        v2 = (
            v1.filter(F.col("k") % 5 != 0)  # delete the multiples of 5
            .withColumn(
                "v",
                F.when(F.col("k") < 10, F.col("v") + 1).otherwise(F.col("v")),
            )
            .unionByName(
                spark.createDataFrame([(100, -1), (101, -2)], ["k", "v"])
            )
        )
        store.overwrite("t", v1)
        store.overwrite("t", v2)
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        once = apply_change_feed(store.read("t", version=1), feed, ["k"])
        # crash window: replica already holds the applied state, the
        # stale cursor re-delivers the SAME feed
        twice = apply_change_feed(once, feed, ["k"])
        assert twice.exceptAll(once).count() == 0
        assert once.exceptAll(twice).count() == 0
        # and the applied state is exactly v2
        cur = store.read("t", version=2)
        assert once.exceptAll(cur).count() == 0
        assert cur.exceptAll(once).count() == 0


class TestRound8AdviceRegressions:
    """r7 ADVICE regressions: evolved-append fast-path decline,
    NULL-group refresh_aggregates, and write-time CDC vs committed
    data agreement under order_by ties."""

    def test_merge_schema_append_declines_fast_path(self, spark, tmp_path):
        """An evolved append that OMITS an existing column used to
        crash change_feed's append fast path (AnalysisException from
        F.struct over a column the added files lack) once BOTH
        versions carried #mergeSchema. appended_dirs must decline
        whenever the flag is present; the feed then comes from the
        mergeSchema-aware snapshot_diff (r7 advice #1)."""
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.mutations import (
            snapshot_diff,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "msa"), retain_versions=9)
        store.overwrite(
            "t",
            spark.range(10).select(F.col("id").alias("k"),
                                   (F.col("id") * 2.0).alias("v")),
        )
        # v2: evolved append ADDS column w (flags change: none -> mergeSchema)
        store.append(
            "t",
            spark.range(10, 15).select(F.col("id").alias("k"),
                                       (F.col("id") * 2.0).alias("v"),
                                       F.lit("w").alias("w")),
            merge_schema=True,
        )
        # v3: evolved append OMITS both v and w — flags EQUAL on both
        # sides (#mergeSchema), the exact pre-fix crash shape
        store.append(
            "t",
            spark.range(15, 20).select(F.col("id").alias("k")),
            merge_schema=True,
        )
        assert store.appended_dirs("t", 2) is None
        assert store.appended_dirs("t", 3) is None
        feed = change_feed(store, "t", ["k"], from_version=2, to_version=3)
        want = snapshot_diff(
            store.read("t", version=2), store.read("t", version=3), ["k"]
        ).withColumn("commit_version", F.lit(3).cast("long"))
        assert feed.exceptAll(want).count() == 0
        assert want.exceptAll(feed).count() == 0
        assert feed.count() == 5
        # un-evolved appends still take the O(new bytes) fast path
        store2 = TableStore(spark, str(tmp_path / "msb"), retain_versions=9)
        store2.overwrite("t", spark.range(5).select(F.col("id").alias("k")))
        store2.append("t", spark.range(5, 8).select(F.col("id").alias("k")))
        assert store2.appended_dirs("t", 2) is not None

    def test_refresh_aggregates_null_group_key(self, spark, tmp_path):
        """A NULL group key is a legal groupBy group; the touched-group
        semi/anti joins must be null-safe or a changed NULL group
        silently keeps its stale stored aggregate (r7 advice #2)."""
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            refresh_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "ng"), retain_versions=5)
        v1 = [(1, None, 10.0), (2, None, 3.0), (3, "a", 5.0)]
        v2 = [(1, None, 99.0), (2, None, 3.0), (3, "a", 5.0)]
        for rows in (v1, v2):
            store.overwrite(
                "t", spark.createDataFrame(rows, "k long, grp string, v double")
            )
        exprs = {"mx": F.max("v"), "n": F.count(F.lit(1))}
        stored = (
            store.read("t", version=1)
            .groupBy("grp")
            .agg(*[e.alias(n) for n, e in exprs.items()])
        )
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        out = {
            r["grp"]: (r["mx"], r["n"])
            for r in refresh_aggregates(
                stored, store.read("t", version=2), feed, "grp", exprs
            ).collect()
        }
        # pre-fix: NULL group kept stale (10.0, 2) AND the anti-join
        # duplicated its stored row alongside nothing refreshed
        assert out[None] == (99.0, 2)
        assert out["a"] == (5.0, 1)
        assert len(out) == 2

    def test_cdc_sidecar_agrees_with_committed_data_under_ties(
        self, spark, tmp_path
    ):
        """order_by ties make the upsert winner arbitrary; the staged
        data files and the CDC sidecar must still describe the SAME
        winner — the mutation plan is materialized once, not executed
        twice (r7 advice #4)."""
        from etl_notifier_pipeline_spark.storage import BucketedTableStore

        store = BucketedTableStore(
            spark, str(tmp_path / "ties"), keys={"t": ["k"]},
            n_buckets=4, retain_versions=10, capture_cdc=True,
        )
        store.overwrite(
            "t",
            spark.createDataFrame(
                [(i, 0.0) for i in range(20)], "k long, v double"
            ),
        )
        # every key gets TWO candidate rows with an identical order_by
        # value — the max_by winner between them is a genuine tie
        batch = spark.createDataFrame(
            [(i, float(100 + j), 1.0) for i in range(20) for j in range(2)],
            "k long, v double, ord double",
        )
        store.apply_keyed_mutation("t", batch, ["k"], ["ord"], "update")
        sidecar = store.cdc_dir("t", 2)
        assert sidecar is not None
        committed = {
            r["k"]: r["v"] for r in store.read("t", version=2).collect()
        }
        from_cdc = {
            r["k"]: r["new_row"]["v"]
            for r in spark.read.parquet(sidecar)
            .where(F.col("change") != "delete")
            .collect()
        }
        assert from_cdc  # updates happened
        for k, v in from_cdc.items():
            assert committed[k] == v, (
                f"key {k}: committed {committed[k]} but sidecar says {v}"
            )


class TestMomentIVM:
    """cdc_agg_delta's second moment (r7 verdict ask #7): avg/stddev maintained
    from invertible moments (count, Σv, Σv²) + min/max from touched-
    group refresh, in one mixed view. The adversarial case: a deleted
    row that was BOTH the group max AND the group's last non-NULL
    value — the moment fold must drive nn to 0 (sum/avg/stddev report
    NULL, not 0), and the refresh must recompute max to NULL."""

    def test_deleted_row_was_max_and_last_nonnull(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            cdc_agg_delta,
            merge_aggregates,
            refresh_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "mom"), retain_versions=5)
        v1 = [
            (1, "a", None),   # survives: all-NULL group after the delete
            (2, "a", 99.0),   # group a's max AND its only non-NULL value
            (3, "b", 5.0),
            (4, "b", 7.0),
            (5, "c", 2.0),    # untouched group
        ]
        v2 = [(1, "a", None), (3, "b", 5.0), (4, "b", 7.0), (5, "c", 2.0)]
        for rows in (v1, v2):
            store.overwrite(
                "t", spark.createDataFrame(rows, "k long, grp string, v double")
            )
        dec, sq_dec = "decimal(18,2)", "decimal(24,4)"
        vcol = F.col("v").cast("decimal(12,2)")
        seed = (
            store.read("t", version=1)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("d_count"),
                F.coalesce(F.sum(vcol), F.lit(0).cast(dec))
                .cast(dec)
                .alias("d_sum"),
                F.count("v").alias("d_nn"),
                F.coalesce(
                    F.sum((vcol * vcol).cast(sq_dec)), F.lit(0).cast(sq_dec)
                )
                .cast(sq_dec)
                .alias("d_sumsq"),
            )
        )
        mm_exprs = {"mx": F.max("v"), "mn": F.min("v")}
        mm = (
            store.read("t", version=1)
            .groupBy("grp")
            .agg(*[e.alias(n) for n, e in mm_exprs.items()])
        )
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        inv = merge_aggregates(
            seed,
            cdc_agg_delta(feed, "grp", "v"),
            ["grp"],
            {"d_count": "count", "d_sum": "sum", "d_nn": "count",
             "d_sumsq": "sum"},
        ).filter(F.col("d_count") > 0)
        mm2 = refresh_aggregates(
            mm, store.read("t", version=2), feed, "grp", mm_exprs
        )
        nn = F.col("d_nn")
        num = (
            F.col("d_sumsq").cast(sq_dec) * nn.cast("decimal(10,0)")
            - F.col("d_sum").cast(dec) * F.col("d_sum").cast(dec)
        )
        got = {
            r["grp"]: (
                r["n"], r["avg"], r["std"], r["mx"], r["mn"]
            )
            for r in inv.join(mm2, "grp")
            .select(
                "grp",
                F.col("d_count").alias("n"),
                F.when(nn > 0, (F.col("d_sum") / nn).cast("decimal(16,6)"))
                .cast("double")
                .alias("avg"),
                F.when(
                    nn > 1,
                    F.sqrt(num.cast("double") / (nn * (nn - F.lit(1)))),
                )
                .cast("double")
                .alias("std"),
                "mx",
                "mn",
            )
            .collect()
        }
        # group a: 1 surviving all-NULL row -> count 1, everything NULL
        assert got["a"] == (1, None, None, None, None)
        # group b untouched values, but row 3/4 remain: avg 6, std exact
        assert got["b"][0] == 2 and got["b"][1] == 6.0
        assert abs(got["b"][2] - 1.4142135623730951) < 1e-15
        assert got["b"][3:] == (7.0, 5.0)
        assert got["c"] == (1, 2.0, None, 2.0, 2.0)

    def test_moment_fold_matches_recompute_over_random_history(self, spark, tmp_path):
        """Three random-ish mutation commits: folded moments ==
        direct recompute of the final snapshot, for every group."""
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            cdc_agg_delta,
            merge_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        store = TableStore(spark, str(tmp_path / "rnd"), retain_versions=5)
        import random

        rng = random.Random(7)
        rows = {
            k: (k, f"g{k % 5}", round(rng.uniform(-50, 50), 2))
            for k in range(200)
        }
        store.overwrite(
            "t",
            spark.createDataFrame(
                list(rows.values()), "k long, grp string, v double"
            ),
        )
        for _ in range(3):
            for k in rng.sample(list(rows), 40):
                if rng.random() < 0.3:
                    rows.pop(k)
                else:
                    rows[k] = (k, f"g{rng.randrange(5)}",
                               round(rng.uniform(-50, 50), 2))
            store.overwrite(
                "t",
                spark.createDataFrame(
                    list(rows.values()), "k long, grp string, v double"
                ),
            )
        dec, sq_dec = "decimal(18,2)", "decimal(24,4)"
        vcol = F.col("v").cast("decimal(12,2)")

        def moments(df):
            return df.groupBy("grp").agg(
                F.count(F.lit(1)).alias("d_count"),
                F.coalesce(F.sum(vcol), F.lit(0).cast(dec))
                .cast(dec)
                .alias("d_sum"),
                F.count("v").alias("d_nn"),
                F.coalesce(
                    F.sum((vcol * vcol).cast(sq_dec)), F.lit(0).cast(sq_dec)
                )
                .cast(sq_dec)
                .alias("d_sumsq"),
            )

        view = moments(store.read("t", version=1))
        for v in (2, 3, 4):
            feed = change_feed(
                store, "t", ["k"], from_version=v - 1, to_version=v
            )
            view = merge_aggregates(
                view,
                cdc_agg_delta(feed, "grp", "v"),
                ["grp"],
                {"d_count": "count", "d_sum": "sum", "d_nn": "count",
                 "d_sumsq": "sum"},
            ).filter(F.col("d_count") > 0)
            view = spark.createDataFrame(view.collect(), view.schema)
        want = sorted(
            map(tuple, moments(store.read("t", version=4)).collect())
        )
        got = sorted(
            map(
                tuple,
                view.select(
                    "grp",
                    "d_count",
                    F.col("d_sum").cast(dec),
                    "d_nn",
                    F.col("d_sumsq").cast(sq_dec),
                ).collect(),
            )
        )
        assert got == want

    def test_nn_gates_on_raw_column_not_cast(self, spark, tmp_path):
        """r8 ADVICE (low): a raw non-NULL value that CASTS to NULL
        (NaN -> decimal, even under ANSI) must still move d_nn, because
        the seeded summary uses F.count(v) and the oracle COUNT(v) —
        both of which count NaN rows. Before the fix the retraction of
        a NaN row left nn one too high, corrupting avg/stddev
        NULL-gating."""
        from etl_notifier_pipeline_spark.operators import change_feed
        from etl_notifier_pipeline_spark.operators.incremental import (
            cdc_agg_delta,
            merge_aggregates,
        )
        from etl_notifier_pipeline_spark.storage import TableStore

        nan = float("nan")
        store = TableStore(spark, str(tmp_path / "nan"), retain_versions=5)
        v1 = [(1, "a", nan), (2, "a", 4.0), (3, "b", nan)]
        # delete the NaN rows; group b becomes empty
        v2 = [(2, "a", 4.0)]
        for rows in (v1, v2):
            store.overwrite(
                "t", spark.createDataFrame(rows, "k long, grp string, v double")
            )
        feed = change_feed(store, "t", ["k"], from_version=1, to_version=2)
        seed = store.read("t", version=1).groupBy("grp").agg(
            F.count(F.lit(1)).alias("d_count"),
            F.coalesce(
                F.sum(F.col("v").cast("decimal(12,2)")),
                F.lit(0).cast("decimal(12,2)"),
            ).cast("decimal(12,2)").alias("d_sum"),
            F.count("v").alias("d_nn"),  # counts NaN rows: raw non-NULL
        )
        folded = {
            r["grp"]: (r["d_count"], r["d_nn"])
            for r in merge_aggregates(
                seed,
                cdc_agg_delta(feed, "grp", "v"),
                ["grp"],
                {"d_count": "count", "d_sum": "sum", "d_nn": "count"},
            ).collect()
        }
        # recompute ground truth on v2: COUNT(v) counts the NaN-free set
        assert folded["a"] == (1, 1)   # was (1, 2) before the fix
        assert folded["b"] == (0, 0)   # was (0, 1) before the fix
        # the delta's own d_nn
        d = {
            r["grp"]: r["d_nn"]
            for r in cdc_agg_delta(feed, "grp", "v").collect()
        }
        assert d == {"a": -1, "b": -1}
