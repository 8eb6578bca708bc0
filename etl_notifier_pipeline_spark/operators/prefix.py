"""Two-phase running sum: an exact prefix sum with no single-partition
window over the input rows.

A running sum over a total order is one window; left unpartitioned,
Spark sorts every input row in ONE task (the classic scalability
trap). Split the order into contiguous parts instead and it becomes
two windows, both cheap at any scale:

1. per-part totals aggregate map-side into a frame as long as the
   number of parts; their exclusive running offset is a window over
   THAT frame, which then broadcasts back;
2. the per-row running sum is a window PARTITIONED by part, and the
   part's offset is added to it.

Decimal sums stay exact, so the result is bit-identical to the single
window. Callers: ``extensions.sampling.block_pack_spans`` (integer key
ranges), ``extensions.sampling.ordered_prefix_sum`` (range buckets of
any total order) and ``ledger.Ledger.queue_deletes`` (hash parts: the
order across parts is arbitrary, ids only need to be contiguous).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    part: str,
    value: Column,
    order: Sequence[Column | str],
    *,
    alias: str,
) -> DataFrame:
    """``df`` plus ``alias``: the inclusive running sum of ``value`` in
    the order (``part``, ``*order``). ``part`` names a column of ``df``;
    rows of a part must be contiguous in the intended order (the sum
    across parts follows ascending ``part``)."""
    totals = df.groupBy(part).agg(F.sum(value).alias("__total"))
    offsets = totals.select(
        part,
        (
            F.sum("__total").over(
                W.orderBy(part).rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            - F.col("__total")
        ).alias("__off"),
    )
    running = F.sum(value).over(
        W.partitionBy(part)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.join(F.broadcast(offsets), part)
        .withColumn(alias, F.col("__off") + running)
        .drop("__off")
    )
