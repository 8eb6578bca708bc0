"""Ingestion sources with the reference pipeline's schema policy.

The reference (``process-pipeline.py:332-343``) parses each arriving CSV
with ``csv.DictReader`` — every value a string, header row defines the
columns, empty/headerless file is an error — and creates the target
table either all-TEXT from the header (``process-pipeline.py:122-123``)
or cloned from a same-named template table
(``CREATE TABLE t (LIKE public.t INCLUDING ALL)``,
``process-pipeline.py:117-119``), in which case Postgres coerces the
strings on insert.

Spark-first translation:

- ``read_csv_all_string``: the header line is parsed on the driver and
  becomes an all-string schema (the reference's all-TEXT semantics);
  the rows are a distributed CSV scan under that schema, never
  materialized on one node (unlike the reference's driver-memory list).
- ``cast_to_template``: the "LIKE template" clone — cast the all-string
  frame to a template ``StructType`` column-by-column (Postgres-style
  coercion on insert).
- ``read_csv_typed``: convenience = read + cast.
- ``derive_table_name``: the reference's file-stem -> table-name rule
  (``data-query.py:62-68``): strip extension, non-alphanumerics -> ``_``,
  lowercase.
"""

from __future__ import annotations

import csv
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class EmptyInputError(ValueError):
    """Raised for an empty or headerless ingest file.

    Mirrors the reference's guard at ``process-pipeline.py:334-337``
    ("CSV file is empty or has no header").
    """


def derive_table_name(file_name: str) -> str:
    """File name -> table name, per reference ``data-query.py:62-68``.

    Strip the last extension, replace non ``[a-zA-Z0-9_]`` with ``_``,
    lowercase. (Column-expression twin: ``functions.table_name_expr``.)
    """
    base = re.sub(r"\.[^.]*$", "", file_name)
    return re.sub(r"[^a-zA-Z0-9_]", "_", base).lower()


def _csv_header(path: str) -> list[str]:
    """Column names from the first non-blank line of the CSV at ``path``,
    named as Spark names a CSV header (case-insensitive analysis, its
    default): an empty name becomes ``_c{i}``, and a name that repeats
    in any case gets its position appended."""
    with open(path, encoding="utf-8", errors="replace", newline="") as f:
        line = next((ln for ln in f if ln.strip()), None)
    if line is None:
        return []
    row = next(csv.reader([line]))
    seen = Counter(c.lower() for c in row if c)
    return [
        f"_c{i}" if not c else f"{c}{i}" if seen[c.lower()] > 1 else c
        for i, c in enumerate(row)
    ]


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """Read CSV with header; every column StringType (reference all-TEXT).

    ``path`` is one local file. Its header is read on the driver
    (``_csv_header``), so building the frame launches no Spark job;
    Spark then skips the header line.
    FAILFAST surfaces malformed rows as errors instead of silent nulls —
    the reference similarly aborts the file on parse problems. The scan
    is distributed: at 100 TB this is N parallel file splits, not one
    driver-side ``rows.append`` loop (contrast
    ``process-pipeline.py:339-340``).
    """
    cols = _csv_header(path)
    if not cols or all(c.startswith("_c") for c in cols):
        raise EmptyInputError(f"CSV file is empty or has no header: {path}")
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return spark.read.schema(schema).options(header=True, mode="FAILFAST").csv(path)


def cast_to_template(df: DataFrame, template: T.StructType) -> DataFrame:
    """Cast an all-string frame to a template schema (the LIKE-clone path).

    Columns are matched by (case-insensitive) name; extra incoming
    columns are dropped, missing template columns error — the reference
    relies on Postgres raising on column-count mismatch at insert.
    """
    by_lower = {c.lower(): c for c in df.columns}
    missing = [f.name for f in template.fields if f.name.lower() not in by_lower]
    if missing:
        raise ValueError(f"ingest is missing template columns: {missing}")
    return df.select(
        *[
            F.col(by_lower[f.name.lower()]).cast(f.dataType).alias(f.name)
            for f in template.fields
        ]
    )


def read_csv_typed(
    spark: SparkSession, path: str, template: T.StructType
) -> DataFrame:
    return cast_to_template(read_csv_all_string(spark, path), template)


def read_jsonl(
    spark: SparkSession,
    path: str,
    template: T.StructType | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Read newline-delimited JSON — the other arrival format a file-
    drop pipeline sees (the reference only ships CSV; this extends S1/S2
    to the JSONL corpora LLM-data pipelines exchange).

    With a ``template`` the schema is imposed (no inference pass —
    at 100 TB a schema-inference scan is a full extra read of the
    corpus); rows that do not parse land in ``corrupt_col`` instead of
    killing the job (PERMISSIVE), mirroring the dead-letter posture of
    the streaming path. Without a template, falls back to one
    inference pass (small/interactive use) and FAILFAST, mirroring
    ``read_csv_all_string``'s abort-on-malformed policy.
    """
    if template is not None:
        schema = T.StructType(list(template.fields))
        if corrupt_col not in [f.name for f in schema.fields]:
            schema = schema.add(T.StructField(corrupt_col, T.StringType()))
        df = spark.read.schema(schema).options(
            mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col
        ).json(path)
        return df
    df = spark.read.options(mode="FAILFAST").json(path)
    if len(df.columns) == 0:
        raise EmptyInputError(f"JSONL file is empty: {path}")
    return df


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE-parsed frame into (clean, dead_letters).

    The clean side drops the corrupt column entirely; the dead-letter
    side keeps only the raw line — ready for a durable dead-letter
    append (streaming ST3's posture, applied to batch ingest).

    The frame is cached first: Spark disallows referencing ONLY the
    internal corrupt-record column on a raw file scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and its documented remedy is
    materializing the parse. The cache covers one arrival batch (a
    file drop), never the corpus — and it is registered on the
    CALLER'S ``df`` (cache marks the shared plan), so after consuming
    both sides call ``df.unpersist()`` to release the batch; a
    long-running drop loop that skips this pins one batch per file in
    executor storage until eviction.
    """
    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    dead = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, dead
