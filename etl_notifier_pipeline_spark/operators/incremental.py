"""Incremental aggregate maintenance: fold a delta batch's partial
aggregate into a stored summary without re-aggregating the corpus.

At 100 TB the difference between ``agg(corpus ∪ delta)`` and
``merge(stored_agg, agg(delta))`` is the whole job: the former re-reads
everything on every arrival batch, the latter reads only the new bytes
plus the (group-cardinality-sized) summary table. This is the
materialized-view maintenance pattern restricted to DISTRIBUTIVE and
ALGEBRAIC aggregates, where a merge function exists:

- distributive: sum/count merge by SUM, min/max by MIN/MAX;
- algebraic: avg = maintained (sum, count) pair, re-derived on read.

Holistic aggregates (exact median, exact countDistinct) have no bounded
merge state and are intentionally NOT expressible here — calling with
one raises; keep those as full recomputes or approximate sketches
(q28/q39's HLL/GK path).

Reference parity: the reference pipeline re-derives nothing — every
approved CSV re-applies into Postgres row-by-row and summary queries
re-scan (`process-pipeline.py:193-196` applies increments; reads
recompute). This operator is the Spark-side analogue for the summary
side: append-only arrival batches keep dashboards O(delta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# aggregate kind -> merge function over per-side partials
_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # counts merge by summing
    "max": F.max,
    "min": F.min,
}


def agg_delta(
    delta: DataFrame, keys: list[str], aggs: dict[str, tuple[str, F.Column]]
) -> DataFrame:
    """Aggregate one arrival batch into summary-shaped partials.

    ``aggs`` maps output column -> (kind, aggregate expression), kind
    in {sum, count, max, min}. The expression runs over the RAW delta
    rows (e.g. ``F.sum(F.col("v").cast("decimal(12,2)"))``); decimal
    inputs keep the merge exact and order-independent per the repo's
    determinism contract.
    """
    bad = [k for k, (kind, _) in aggs.items() if kind not in _MERGE]
    if bad:
        raise ValueError(
            f"non-mergeable aggregate kinds for {bad}; distributive/"
            "algebraic only (holistic aggs need a full recompute)"
        )
    return delta.groupBy(*keys).agg(
        *[expr.alias(name) for name, (_, expr) in aggs.items()]
    )


def merge_aggregates(
    stored: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    kinds: dict[str, str],
) -> DataFrame:
    """Merge a delta's partial aggregate into the stored summary.

    Both frames carry ``keys`` + the aggregate columns named in
    ``kinds`` (output column -> kind). New groups appear, existing
    groups fold — a unionByName + one small groupBy over summary-
    cardinality rows (never the corpus). The result is the exact
    aggregate of corpus ∪ delta for distributive kinds (proven by the
    equivalence test).
    """
    bad = [k for k, kind in kinds.items() if kind not in _MERGE]
    if bad:
        raise ValueError(f"non-mergeable aggregate kinds for {bad}")
    cols = [*keys, *kinds]
    both = stored.select(*cols).unionByName(delta_agg.select(*cols))
    return both.groupBy(*keys).agg(
        *[_MERGE[kind](name).alias(name) for name, kind in kinds.items()]
    )


def cdc_agg_delta(
    feed: DataFrame,
    group_col: str,
    value_col: str,
    value_cast: str = "decimal(12,2)",
    sumsq_cast: str = "decimal(24,4)",
) -> DataFrame:
    """Per-group moment delta implied by a ``change_feed``: every change
    row RETRACTS its old_row contribution (−1, −value, −value²) and
    ASSERTS its new_row contribution (+1, +value, +value²) — inserts
    have only the assertion, deletes only the retraction, and updates
    carry both (possibly against different groups, so group migrations
    are exact). This extends append-only ``agg_delta`` maintenance to
    the full insert/update/delete mutation stream: the classic
    incremental view-maintenance delta over CDC, costing O(changes),
    never O(table). Returns ``group_col, d_count, d_sum, d_nn,
    d_sumsq`` (all signed).

    ``d_nn`` is the non-NULL value count — the standard IVM fix for
    NULL retraction: when a group's last non-NULL value is retracted
    but rows remain (e.g. an update sets the only value to NULL), the
    folded ``d_sum`` is 0 while SQL's SUM over the surviving all-NULL
    group is NULL, so readers must report SUM as
    ``CASE WHEN d_nn > 0 THEN d_sum END``.

    ``merge_aggregates`` folds it into a stored summary with kinds
    ``{"d_count": "count", "d_sum": "sum", "d_nn": "count"}`` (plus
    ``"d_sumsq": "sum"`` for the second moment; a fold that names only
    the first three never computes Σv²) — groups whose count reaches
    zero should then be dropped by the caller (the retraction analog of
    "new groups appear"). AVG, VARIANCE and STDDEV are algebraic, not
    distributive, but their moments are each invertible, so the reader
    re-derives them:

        avg    = d_sum / d_nn
        stddev = sqrt((d_sumsq·nn − d_sum²) / (nn·(nn−1)))

    Decimal moments keep the fold EXACT and order-independent (the
    repo's determinism contract): ``d_sum`` in ``value_cast`` widened
    sums, ``d_sumsq`` in ``sumsq_cast`` (scale doubled by squaring)."""
    val = lambda side: F.col(f"{side}.{value_col}").cast(value_cast)  # noqa: E731
    sq = lambda side: (val(side) * val(side)).cast(sumsq_cast)  # noqa: E731
    grp = lambda side: F.col(f"{side}.{group_col}").alias(group_col)  # noqa: E731
    # nn gates on the RAW column, not the cast: a non-NULL value that
    # casts to NULL (overflow/NaN under non-ANSI casts) must still
    # count toward nn so the fold agrees with the COUNT(value)-seeded
    # summary and the COUNT(value) oracle
    nn = lambda side, sign: (  # noqa: E731
        F.when(
            F.col(f"{side}.{value_col}").isNotNull(), F.lit(sign)
        ).otherwise(F.lit(0))
    ).cast("long")
    retract = feed.where(F.col("old_row").isNotNull()).select(
        grp("old_row"),
        F.lit(-1).cast("long").alias("d_count"),
        (-val("old_row")).alias("d_sum"),
        nn("old_row", -1).alias("d_nn"),
        (-sq("old_row")).alias("d_sumsq"),
    )
    assert_ = feed.where(F.col("new_row").isNotNull()).select(
        grp("new_row"),
        F.lit(1).cast("long").alias("d_count"),
        val("new_row").alias("d_sum"),
        nn("new_row", 1).alias("d_nn"),
        sq("new_row").alias("d_sumsq"),
    )
    # coalesce: a delta whose contributions are all NULL (e.g. insert
    # of NULL values) must fold as +0, not poison the stored sums to
    # NULL through merge_aggregates' SUM
    zero = lambda cast: F.lit(0).cast(cast)  # noqa: E731
    return (
        retract.unionByName(assert_)
        .groupBy(group_col)
        .agg(
            F.sum("d_count").alias("d_count"),
            F.coalesce(F.sum("d_sum"), zero(value_cast)).alias("d_sum"),
            F.sum("d_nn").alias("d_nn"),
            F.coalesce(F.sum("d_sumsq"), zero(sumsq_cast)).alias("d_sumsq"),
        )
    )


def cdc_touched_groups(feed: DataFrame, group_col: str) -> DataFrame:
    """Distinct groups a change feed touches — either side of any
    change row (update-driven group migration touches two groups)."""
    old_g = feed.where(F.col("old_row").isNotNull()).select(
        F.col(f"old_row.{group_col}").alias(group_col)
    )
    new_g = feed.where(F.col("new_row").isNotNull()).select(
        F.col(f"new_row.{group_col}").alias(group_col)
    )
    return old_g.unionByName(new_g).distinct()


def refresh_aggregates(
    stored: DataFrame,
    current: DataFrame,
    feed: DataFrame,
    group_col: str,
    exprs: dict[str, F.Column],
) -> DataFrame:
    """Maintain NON-INVERTIBLE aggregates (min/max — any aggregate
    without a retraction) from a change feed: the standard IVM answer
    is per-affected-group re-aggregation. A deleted row that WAS the
    group max cannot be subtracted from the stored max, but the set of
    groups whose answer can have changed is exactly
    ``cdc_touched_groups(feed)`` — so re-aggregate ONLY those groups
    from the current snapshot (a semi-join the store prunes to the
    groups' partitions/buckets) and carry every untouched group's
    stored row forward verbatim. Cost per commit:
    O(changes + rows of touched groups), never O(table). Groups
    retracted to zero rows vanish (no current rows -> no refreshed
    row, and the anti-join drops their stored row). Works for ANY
    aggregate expression — min/max/avg/count_distinct — because the
    touched groups are literally recomputed; invertible aggregates
    should keep using the cheaper ``cdc_agg_delta`` fold (no base-
    table read at all)."""
    touched = cdc_touched_groups(feed, group_col)
    # eqNullSafe, not an equi-join: a NULL group key is a legal group
    # (groupBy puts all NULLs in one group), but `col = col` never
    # matches NULL — a plain semi/anti join would silently carry the
    # stale stored row forward for a changed NULL group (r7 advice #2).
    refreshed = (
        current.join(
            touched,
            current[group_col].eqNullSafe(touched[group_col]),
            "left_semi",
        )
        .groupBy(group_col)
        .agg(*[e.alias(n) for n, e in exprs.items()])
    )
    kept = stored.join(
        touched,
        stored[group_col].eqNullSafe(touched[group_col]),
        "left_anti",
    )
    return kept.unionByName(refreshed)
