"""As-of join (SURVEY §2.3 absent list: range/as-of).

Spark has no native ASOF JOIN; the engine composes one:

- ``asof_join`` (default ``strategy="union_sort"``, r14): union the
  tagged left and right rows, ONE hash shuffle on the key, and a
  running ``last(right_struct, ignorenulls)`` window picks each left
  row's latest at-or-before right row. No join fan-out, no row-id
  mark, no eager materialization — the left (fact) side crosses the
  network exactly once, which is the 100 TB shape (guide §2.4: remove
  shuffles; §3.3: the id-mark + anti-join restore of the window
  strategy was an extra fact-sized exchange AND an O(|fact|) eager
  localCheckpoint write before the join could start).
- ``strategy="window"`` (the pre-r14 default): equi-join on the
  partition key with the range predicate, then keep the latest right
  row per left row via a ranking window over a row-id mark. Correct
  for any data; the join inflates to |left ⨝_key right| before the
  window prunes it, and the id mark forces an eager localCheckpoint
  of the whole left side (id stability across its two consumers).
  Kept selectable as the reference implementation.
- ``strategy="pandas"``: per-key ``applyInPandas`` +
  ``pd.merge_asof`` — sorts each key group in Python once; the Arrow
  boundary makes it the slowest arm, kept as the cross-check.

All three produce IDENTICAL rows (same deterministic tie-break:
among equal right timestamps the smallest right-value tuple wins).
DuckDB's native ``ASOF JOIN`` is the oracle for all of them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    *,
    right_values: Sequence[str],
    strategy: str = "union_sort",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_time`` <= ``left_time`` within the same ``on`` key
    (backward as-of). Left rows with no match keep NULL values.
    """
    if strategy == "pandas":
        return _asof_join_pandas(left, right, on, left_time, right_time, right_values)
    if strategy == "union_sort":
        return _asof_join_union_sort(
            left, right, on, left_time, right_time, right_values
        )
    lid = "__asof_lid"
    # localCheckpoint (r13, corrected from persist after review): the
    # id-marked left frame feeds BOTH the range join and the no-match
    # anti-join restore, and the two consumers must agree on every
    # monotonically_increasing_id value. A persist() does NOT
    # guarantee that — evicted or executor-lost cached partitions are
    # RECOMPUTED, re-evaluating the id expression with possibly
    # different values per consumer (duplicate/lost rows in the
    # restore), and caching.release_all()'s "safe at any time"
    # contract would silently reintroduce the same divergence.
    # localCheckpoint materializes eagerly and TRUNCATES LINEAGE:
    # there is no recompute path, so the ids are one materialization's
    # by construction (fail-stop on block loss, like every iterative
    # operator in dedup.py — wrong-answer is not a failure mode).
    lmark = left.withColumn(
        lid, F.monotonically_increasing_id()
    ).localCheckpoint()
    # NULL right timestamps can never satisfy "greatest rt <= lt";
    # drop them up front so the isNull arm below only ever matches
    # left rows with no key match at all (left-join padding).
    r = right.filter(F.col(right_time).isNotNull()).select(
        *on, F.col(right_time).alias("__rt"), *[F.col(c) for c in right_values]
    )
    joined = lmark.join(r, list(on), "left").filter(
        F.col("__rt").isNull() | (F.col("__rt") <= F.col(left_time))
    )
    # Deterministic pick among equal timestamps: smallest right-value
    # tuple wins (no unique right key is guaranteed to exist).
    w = W.partitionBy(lid).orderBy(
        F.col("__rt").desc_nulls_last(), *[F.col(c).asc_nulls_last() for c in right_values]
    )
    best = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    # Rows whose every candidate violated the range predicate were
    # filtered out entirely; restore them with NULL right-values.
    missing = lmark.join(best.select(lid), lid, "left_anti")
    nulls = [F.lit(None).cast(dict(r.dtypes)["__rt"]).alias("__rt")] + [
        F.lit(None).cast(dict(r.dtypes)[c]).alias(c) for c in right_values
    ]
    out = best.select(*lmark.columns, "__rt", *right_values).unionByName(
        missing.select(*lmark.columns, *nulls)
    )
    return out.drop(lid, "__rt")


def _asof_join_union_sort(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
) -> DataFrame:
    """Scale path, and the default since r14: tag and union both
    sides, shuffle ONCE by the key, and let a running
    ``last(..., ignorenulls=True)`` window carry the newest
    at-or-before right row onto every left row. The switch was made
    on plan shape (one exchange instead of a join plus an anti-join
    restore) and is unmeasured: no committed artifact times it
    against ``window`` or ``pandas``.

    Sort order within a key: (time ASC NULLS FIRST, is_left ASC,
    right-value tuple DESC NULLS FIRST). The pieces:

    - right before left at equal time (is_left 0 < 1) makes the
      range predicate INCLUSIVE (rt <= lt);
    - among right rows tied on rt, every direction flipped relative
      to the window strategy's ``asc_nulls_last`` ranking reverses the
      lexicographic order exactly, so the LAST tied row in window
      order is the SMALLEST right-value tuple — the identical
      deterministic pick all three strategies share;
    - a NULL left_time sorts before every (non-null) right time, so
      such rows see no candidate and keep NULL values — the same
      padding the window strategy produces via its restore leg;
    - right rows with NULL right_time are dropped up front (they can
      never satisfy rt <= lt), exactly as in the window strategy.

    The right row travels as ONE struct column so the window picks an
    entire row atomically, and each left row flows through the window
    unduplicated — multiplicity is preserved with no row-id mark, no
    localCheckpoint, no anti-join restore.
    """
    t_col, tag, rv = "__asof_t", "__asof_is_left", "__asof_rv"
    # Join semantics: a NULL key matches NOTHING. partitionBy would
    # happily group null-key rows from both sides together, so
    # null-key right rows must be dropped (a null-key LEFT row then
    # sees an empty partition and keeps NULL values — same padding
    # the equi-join strategies produce).
    r = right.filter(F.col(right_time).isNotNull())
    for k in on:
        r = r.filter(F.col(k).isNotNull())
    rtypes = dict(r.dtypes)
    left_u = left.select(
        *left.columns,
        F.col(left_time).alias(t_col),
        F.lit(1).alias(tag),
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"`{c}`:{rtypes[c]}" for c in [right_time, *right_values]
            )
            + ">"
        )
        .alias(rv),
    )
    left_types = dict(left.dtypes)
    right_u = r.select(
        *[
            F.col(c) if c in on else F.lit(None).cast(left_types[c]).alias(c)
            for c in left.columns
        ],
        F.col(right_time).alias(t_col),
        F.lit(0).alias(tag),
        F.struct(
            F.col(right_time), *[F.col(c) for c in right_values]
        ).alias(rv),
    )
    w = (
        W.partitionBy(*on)
        .orderBy(
            F.col(t_col).asc_nulls_first(),
            F.col(tag).asc(),
            *[
                F.col(f"{rv}.{c}").desc_nulls_first()
                for c in right_values
            ],
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    picked = left_u.unionByName(right_u).withColumn(
        "__asof_pick", F.last(rv, ignorenulls=True).over(w)
    )
    return picked.filter(F.col(tag) == 1).select(
        *left.columns,
        *[F.col(f"__asof_pick.{c}").alias(c) for c in right_values],
    )


def _asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
) -> DataFrame:
    """Scale path: cogroup both sides by key, ``pd.merge_asof`` per
    group (one sort each, no pair blow-up). Arrow-batched."""
    import pandas as pd

    from pyspark.sql import types as T

    out_fields = left.schema.fields + [right.schema[c] for c in right_values]
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in out_fields]
    )
    lcols = list(left.columns)

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        l = l.sort_values(left_time)
        if r.empty:
            for c in right_values:
                l[c] = None
            return l[[f.name for f in out_schema.fields]]
        # rt ascending (merge_asof requirement); among equal rt, value
        # columns DESCENDING so merge_asof's pick (last tied row) is the
        # smallest value tuple — the same deterministic choice as the
        # window strategy's ranking tie-break.
        r = r[r[right_time].notna()].sort_values(
            [right_time, *right_values],
            ascending=[True] + [False] * len(right_values),
        )[[right_time, *right_values]]
        if r.empty:
            for c in right_values:
                l[c] = None
            return l[[f.name for f in out_schema.fields]]
        m = pd.merge_asof(
            l, r, left_on=left_time, right_on=right_time, direction="backward"
        )
        return m[[f.name for f in out_schema.fields]]

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(lambda l, r: merge(l, r), out_schema)
    )
