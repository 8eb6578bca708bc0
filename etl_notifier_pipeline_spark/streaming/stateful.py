"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY §2.9 absent-machinery list: arbitrary state).

``running_user_totals`` maintains per-user cumulative (count, value)
state across micro-batches and emits one updated row per user per
batch — the streaming form of the ledger's incremental bookkeeping.
State is explicitly schema'd and bounded per key (two numbers), so at
scale the state store grows with |users|, not |events|.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        # exact integer cents: float accumulation order varies with
        # batch splits, integer addition cannot — this is what makes
        # the drained final state bit-equal to the SQL decimal oracle
        T.StructField("total_cents", T.LongType()),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Values are summed as integer cents (the fixture's values are
    2-decimal money, like the reference's), so state is order-
    independent and exact."""
    n, total_cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total_cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, total_cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total_cents / 100.0],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """events (user_id, value, ...) -> per-user running totals stream."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
