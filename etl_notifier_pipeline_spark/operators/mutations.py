"""Keyed mutations with MERGE semantics (SURVEY §2.3 J2-J5, M2).

The reference implements mutations as Postgres statements:

- insert:  ``INSERT ... ON CONFLICT DO NOTHING``
  (``process-pipeline.py:152-174``) — keep only incoming rows whose key
  is absent; within a batch, the FIRST row per key wins.
- update:  ``INSERT ... ON CONFLICT (pks) DO UPDATE SET col=EXCLUDED.col``
  (``process-pipeline.py:177-207``) — full-row upsert; within a batch,
  the LAST row per key wins (later executemany rows overwrite earlier).
- delete:  per-row ``DELETE FROM t WHERE pk=%s`` with accumulated
  rowcount (``process-pipeline.py:209-234``), deduplicated against
  already-pending deletes one COUNT(*) at a time
  (``process-pipeline.py:285-296``).

Spark-first re-expression: every mutation is a set-at-a-time join plan
— anti-join for absence, semi-join for counts — instead of N point
queries for N rows (the single biggest algorithmic upgrade over the
reference, SURVEY §4 O5). All functions are pure DataFrame -> DataFrame;
persistence (atomic overwrite) lives in ``storage.py``.

Scale notes: the incoming batch is usually tiny relative to the target
table, so the anti/semi joins broadcast the incoming side — the target
is scanned once, never shuffled.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


class MissingKeyError(ValueError):
    """Target/incoming lacks a declared key column.

    Mirrors the reference's 'no primary key found' abort
    (``process-pipeline.py:179-181``)."""


def _check_keys(df: DataFrame, keys: Sequence[str], side: str) -> None:
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise MissingKeyError(f"{side} is missing key columns {missing}")


def _pick_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    *,
    keep: str,
) -> DataFrame:
    """One row per key: ``keep='first'`` -> min order, ``'last'`` -> max."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if keep == "last":
        cols = [c.desc() for c in cols]
    w = W.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_if_absent(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """J2 — ``ON CONFLICT DO NOTHING`` as a plan.

    Result = target ∪ {first-per-key incoming rows whose key is absent
    from target}. ``order_by`` must be deterministic (include a unique
    column); it models the reference's file order, where the first
    conflicting row in the batch wins.

    Scale: the anti-join probes the target pruned to its key columns —
    a narrow-column shuffle even on a wide 100 TB table; hash-anti
    cannot broadcast-build its left side, so this is the right shape.
    """
    _check_keys(target, keys, "target")
    _check_keys(incoming, keys, "incoming")
    first = _pick_per_key(incoming, keys, order_by, keep="first")
    target_keys = target.select(*keys).dropDuplicates(list(keys))
    new_rows = first.join(target_keys, list(keys), "left_anti")
    return target.unionByName(new_rows.select(*target.columns))


def upsert(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """J3 — ``ON CONFLICT DO UPDATE`` (MERGE) as a plan.

    Result = (target rows with no incoming match) ∪ (last-per-key
    incoming rows). Equivalent to Delta ``MERGE INTO ... WHEN MATCHED
    UPDATE SET * WHEN NOT MATCHED INSERT *`` after deduping the source.
    The target side is scanned once; the incoming side is broadcast
    into the anti-join, so no target shuffle.
    """
    _check_keys(target, keys, "target")
    _check_keys(incoming, keys, "incoming")
    last = _pick_per_key(incoming, keys, order_by, keep="last")
    kept = target.join(F.broadcast(last.select(*keys)), list(keys), "left_anti")
    return kept.unionByName(last.select(*target.columns))


def delete_by_keys(
    target: DataFrame,
    delete_keys: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """J4 — keyed delete: surviving rows = target ANTI JOIN keys.

    The reference issues one DELETE per row
    (``process-pipeline.py:220-223``); here the whole key set resolves
    in one broadcast anti-join pass over the target."""
    _check_keys(target, keys, "target")
    _check_keys(delete_keys, keys, "delete_keys")
    ks = delete_keys.select(*keys).dropDuplicates(list(keys))
    return target.join(F.broadcast(ks), list(keys), "left_anti")


def deleted_count(
    target: DataFrame,
    delete_keys: DataFrame,
    keys: Sequence[str],
) -> int:
    """The reference's accumulated ``cursor.rowcount``
    (``process-pipeline.py:223``) as one semi-join count."""
    _check_keys(target, keys, "target")
    ks = delete_keys.select(*keys).dropDuplicates(list(keys))
    return target.join(F.broadcast(ks), list(keys), "left_semi").count()


def filter_new_deletes(
    new_deletes: DataFrame,
    pending: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """J5 — drop delete requests already pending.

    The reference runs one ``COUNT(*)`` per incoming row against
    ``delete_control`` (``process-pipeline.py:285-296``); here it's a
    single anti-join of the batch against the pending set."""
    _check_keys(new_deletes, keys, "new_deletes")
    _check_keys(pending, keys, "pending")
    p = pending.select(*keys).dropDuplicates(list(keys))
    return new_deletes.join(F.broadcast(p), list(keys), "left_anti")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per
    key whose state changed, with ``change`` in ('insert', 'update',
    'delete') and the full non-key payloads of both sides (``old_row``
    / ``new_row`` structs, NULL on the absent side). The lakehouse
    table_changes/CDF operation computed from plain snapshots — pair
    it with ``TableStore.read(table, version=...)`` time travel to
    diff any two retained versions.

    Plan: one full-outer equi-join on the keys (the only shuffle, both
    sides narrow to keys + packed payload struct); change
    classification is a null-pattern CASE; unchanged rows are filtered
    with a null-safe struct comparison so NULL payload fields compare
    as equal (eqNullSafe), never as spurious updates. At 100 TB the
    join is key-partitioned like any MERGE — and on bucketed layouts
    (BucketedTableStore) both snapshots hash the same keys, so only
    same-bucket files meet."""
    _check_keys(old, keys, "old")
    _check_keys(new, keys, "new")
    nonkey = [c for c in old.columns if c not in keys]
    if [c for c in new.columns if c not in keys] != nonkey:
        raise ValueError(
            f"snapshot schemas differ: {old.columns} vs {new.columns}"
        )
    o = old.select(*keys, F.struct(*nonkey).alias("old_row"))
    n = new.select(*keys, F.struct(*nonkey).alias("new_row"))
    j = o.join(n, list(keys), "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("insert"))
        .when(F.col("new_row").isNull(), F.lit("delete"))
        .when(~F.col("old_row").eqNullSafe(F.col("new_row")), F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change", "old_row", "new_row")
    )


def change_feed(
    store,
    table: str,
    keys: Sequence[str],
    from_version: int | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """Multi-commit change data feed: the union of per-commit
    ``snapshot_diff``s for every consecutive retained version pair in
    (from_version, to_version], each row tagged with the
    ``commit_version`` that produced it — Delta's
    ``table_changes(t, from, to)`` earned from plain snapshots. The
    feed is exactly replayable: applying it to the ``from`` snapshot
    (delete update/delete keys, insert update/insert new_rows)
    reconstructs the ``to`` snapshot bit-for-bit, which is the
    invariant downstream incremental consumers rely on (pinned in
    tests/test_mutations.py). Each per-commit diff is one
    key-partitioned full-outer join; commits are independent jobs, so
    a feed over k commits costs k diffs regardless of table history
    length — never a log replay."""
    vs = store.versions(table)
    if not vs:
        raise FileNotFoundError(f"no such table: {table}")
    lo = vs[0] if from_version is None else from_version
    hi = vs[-1] if to_version is None else to_version
    wanted = [v for v in range(lo, hi + 1)]
    missing = sorted(set(wanted) - set(vs))
    if missing:
        raise ValueError(
            f"change_feed({table!r}, {lo}..{hi}): versions {missing} "
            f"not retained (horizon: {vs}); raise retain_versions"
        )
    out = None
    for v in range(lo, hi):
        # Fast paths, cheapest first — all three produce the identical
        # feed (pinned in tests/test_mutations.py):
        # 1. write-time CDC sidecar (capture_cdc=True keyed mutations,
        #    Delta's enableChangeDataFeed): O(changes) read.
        # 2. pure-append commit: the manifest says exactly which dirs
        #    were added — their rows ARE the inserts, O(new bytes)
        #    (Delta CDF's insert-only-commit treatment; assumes the
        #    append-stream contract that appends add new keys, the
        #    same precondition snapshot CDC-by-key already has).
        # 3. snapshot_diff: the O(table) general case.
        # 0. compact() commits rewrite LAYOUT, not data: the feed has
        #    zero rows for them by construction — skip, don't pay the
        #    empty O(table) snapshot_diff
        if store.is_compaction(table, v + 1):
            continue
        sidecar = store.cdc_dir(table, v + 1)
        added = None if sidecar else store.appended_dirs(table, v + 1)
        if sidecar:
            d = store.spark.read.parquet(sidecar).select(
                *keys, "change", "old_row", "new_row"
            )
        elif added:
            base = store.read(table, version=v + 1)
            nonkey = [c for c in base.columns if c not in keys]
            struct_t = base.select(
                F.struct(*nonkey).alias("s")
            ).schema["s"].dataType
            d = store.spark.read.parquet(*added).select(
                *keys,
                F.lit("insert").alias("change"),
                F.lit(None).cast(struct_t).alias("old_row"),
                F.struct(*nonkey).alias("new_row"),
            )
        else:
            d = snapshot_diff(
                store.read(table, version=v),
                store.read(table, version=v + 1),
                keys,
            )
        d = d.withColumn("commit_version", F.lit(v + 1).cast("long"))
        out = d if out is None else out.unionByName(d)
    if out is None:  # single-version range: empty feed, full schema
        empty = snapshot_diff(
            store.read(table, version=lo), store.read(table, version=lo), keys
        ).withColumn("commit_version", F.lit(lo).cast("long"))
        return empty.where(F.lit(False))
    return out


def apply_change_feed(
    base: DataFrame, feed: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Replay a ``change_feed`` onto its base snapshot: per key, only
    the LAST commit's change matters (feed rows carry monotone
    commit_version), so the fold is one window-free reduction — drop
    keys whose final change is delete/update, then add final
    insert/update new_rows. Returns the reconstructed target
    snapshot."""
    nonkey = [c for c in base.columns if c not in keys]
    last = feed.groupBy(*keys).agg(
        F.max_by(F.col("change"), F.col("commit_version")).alias("change"),
        F.max_by(F.col("new_row"), F.col("commit_version")).alias("new_row"),
    )
    removed = base.join(last.select(*keys), list(keys), "left_anti")
    added = last.filter(F.col("change") != "delete").select(
        *keys, *[F.col(f"new_row.{c}").alias(c) for c in nonkey]
    )
    return removed.unionByName(added)
