"""Slowly-changing-dimension type-2 upsert (set-at-a-time).

The reference versions whole files (``data-query.py:70-85`` MAX+1 per
file); row-level history — keep every version of a row with a validity
interval — is the standard warehouse extension of that idea. SCD-2 on
Spark is one plan, no per-row logic:

- match incoming rows to the CURRENT (valid_to IS NULL) target rows on
  the business key;
- changed rows: close the old version (valid_to = effective) and insert
  the incoming row as the new current version (valid_from = effective);
- unchanged matches are left untouched (no spurious versions);
- brand-new keys insert as current; historical (already-closed) target
  rows pass through untouched.

The effective timestamp is an explicit argument, never
``current_timestamp()`` — retries and speculative tasks must produce
identical output (same determinism rule as the salted join).

Scale shape: the incoming batch broadcasts into one scan of the target
(anti/semi joins on the key); the target — the 100 TB side — is never
shuffled. Equivalent Delta form: ``MERGE`` with a close-and-insert
whenMatched pair; this is its engine-native plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.operators.mutations import _pick_per_key

VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def scd2_upsert(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    effective: str,
    *,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Apply an SCD-2 upsert; returns the full new dimension table.

    ``target`` columns: business columns + valid_from/valid_to (string
    timestamps; valid_to NULL = current row). ``incoming``: business
    columns only. ``effective``: the version boundary timestamp.
    ``order_by``: deterministic per-key pick for duplicate incoming
    keys — last row per key wins (pass the ingest order column, like
    the mutation operators do); defaults to the value columns, so the
    surviving row is the greatest value tuple (never dropDuplicates,
    whose pick is partitioning-dependent).
    """
    value_cols = [
        c for c in incoming.columns if c not in keys
    ]
    order_cols = list(order_by) if order_by else value_cols
    inc = _pick_per_key(incoming, keys, order_cols, keep="last")
    current = target.filter(F.col(VALID_TO).isNull())
    history = target.filter(F.col(VALID_TO).isNotNull())

    # changed = current rows whose incoming value tuple differs
    joined = current.alias("t").join(F.broadcast(inc).alias("i"), list(keys), "inner")
    diff = F.lit(False)
    for c in value_cols:
        # NULL-safe inequality per column
        diff = diff | ~F.col(f"t.{c}").eqNullSafe(F.col(f"i.{c}"))
    changed_keys = joined.filter(diff).select(*[F.col(f"t.{k}") for k in keys])

    closed = (
        current.join(F.broadcast(changed_keys), list(keys), "left_semi")
        .withColumn(VALID_TO, F.lit(effective))
    )
    untouched_current = current.join(
        F.broadcast(changed_keys), list(keys), "left_anti"
    )
    # new versions: incoming rows that are brand-new keys OR changed
    existing_keys = current.select(*keys)
    new_rows = (
        inc.join(
            F.broadcast(existing_keys), list(keys), "left_anti"
        )
        .unionByName(inc.join(F.broadcast(changed_keys), list(keys), "left_semi"))
        .withColumn(VALID_FROM, F.lit(effective))
        .withColumn(VALID_TO, F.lit(None).cast("string"))
    )
    cols = target.columns
    return (
        history.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(untouched_current.select(*cols))
        .unionByName(new_rows.select(*cols))
    )
