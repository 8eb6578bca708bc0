"""As-of join (SURVEY §2.3 absent list: range/as-of).

Spark has no native ASOF JOIN; the engine composes one: union the
tagged left and right rows, ONE hash shuffle on the key, and a running
``last(right_struct, ignorenulls)`` window picks each left row's latest
at-or-before right row. No join fan-out, no row-id mark, no eager
materialization — the left (fact) side crosses the network exactly
once.

This is the only implementation. ``ASOF_AB.json`` measured it against
an equi-join + ranking-window plan and a per-key ``pd.merge_asof``
plan on q23's inputs at sf0.1, sf1 and sf10 (pandas: sf0.1 and sf1
only). All arms gave identical rows, and this plan was the fastest at
every scale: half the window plan's wall at sf0.1 and sf1 and a third
at sf10 (where the window plan spilled 18 GB), with fewer jobs, stages
and shuffle bytes; the pandas plan was 40-80x slower. DuckDB's native
``ASOF JOIN`` is the oracle (q23 parity and a hypothesis differential
test).
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
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_time`` <= ``left_time`` within the same ``on`` key
    (backward as-of). Left rows with no match keep NULL values; among
    right rows tied on ``right_time`` the smallest right-value tuple
    wins.

    Tag and union both sides, shuffle ONCE by the key, and let a
    running ``last(..., ignorenulls=True)`` window carry the newest
    at-or-before right row onto every left row. Sort order within a
    key: (time ASC NULLS FIRST, is_left ASC, right-value tuple DESC
    NULLS FIRST). The pieces:

    - right before left at equal time (is_left 0 < 1) makes the range
      predicate INCLUSIVE (rt <= lt);
    - among right rows tied on rt, the descending value order puts the
      SMALLEST right-value tuple last, so it is the one carried
      forward;
    - a NULL left_time sorts before every (non-null) right time, so
      such rows see no candidate and keep NULL values;
    - right rows with NULL right_time are dropped up front (they can
      never satisfy rt <= lt).

    The right row travels as ONE struct column so the window picks an
    entire row atomically, and each left row flows through the window
    unduplicated — multiplicity is preserved with no row-id mark.
    """
    t_col, tag, rv = "__asof_t", "__asof_is_left", "__asof_rv"
    # Join semantics: a NULL key matches NOTHING. partitionBy would
    # happily group null-key rows from both sides together, so
    # null-key right rows must be dropped (a null-key LEFT row then
    # sees an empty partition and keeps NULL values).
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
