"""Ingestion schema-policy tests (reference ``process-pipeline.py:104-130,
332-343``): all-string default, template cast, empty-file error."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from etl_notifier_pipeline_spark.sources import (
    EmptyInputError,
    cast_to_template,
    derive_table_name,
    read_csv_all_string,
    read_csv_typed,
)


@pytest.fixture()
def csv(tmp_path):
    p = tmp_path / "Sales Data-2024.CSV"
    p.write_text("id,amount,when\n1,10.5,2024-01-01\n2,20.25,2024-01-02\n")
    return str(p)


def test_all_string_schema(spark, csv):
    df = read_csv_all_string(spark, csv)
    assert [t for _, t in df.dtypes] == ["string", "string", "string"]
    assert df.count() == 2


def test_empty_csv_errors(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(EmptyInputError):
        read_csv_all_string(spark, str(p))


def test_blank_header_errors(spark, tmp_path):
    for i, text in enumerate(["\n  \n\n", ",,\n1,2,3\n"]):
        p = tmp_path / f"blank{i}.csv"
        p.write_text(text)
        with pytest.raises(EmptyInputError):
            read_csv_all_string(spark, str(p))


def test_header_only_keeps_columns(spark, tmp_path):
    p = tmp_path / "header_only.csv"
    p.write_text("id,name\n")
    df = read_csv_all_string(spark, str(p))
    assert df.columns == ["id", "name"]
    assert df.count() == 0


@pytest.mark.parametrize(
    "text, names",
    [
        ("a,a,b\n1,2,3\n", ["a0", "a1", "b"]),
        ("A,a,b\n1,2,3\n", ["A0", "a1", "b"]),
        ("a,,b\n1,2,3\n", ["a", "_c1", "b"]),
        ('"x,y",z\n"1,5",2\n', ["x,y", "z"]),
        (" a , b\n1,2\n", [" a ", " b"]),
        ("\n \nid,v\r\n1,2\r\n", ["id", "v"]),
    ],
    ids=["dup", "dup_case", "empty_name", "quoted_comma", "padded", "blank_lines_crlf"],
)
def test_header_names_follow_spark(spark, tmp_path, text, names):
    """The driver-side header parse names columns as Spark's own CSV
    header inference does, and the rows still parse under them."""
    p = tmp_path / "h.csv"
    p.write_text(text)
    df = read_csv_all_string(spark, str(p))
    inferred = spark.read.options(header=True, mode="FAILFAST").csv(str(p))
    assert df.columns == names == inferred.columns
    assert df.collect() == inferred.collect()


def test_read_csv_launches_no_jobs(spark, csv):
    from etl_notifier_pipeline_spark.metrics import measured

    with measured(spark, "csv-control") as m:
        spark.range(10).count()
    assert m["jobs"] >= 1, "the job counter sees no jobs at all"
    with measured(spark, "csv-read") as m:
        df = read_csv_all_string(spark, csv)
    assert m["jobs"] == 0
    assert df.count() == 2


def test_template_cast(spark, csv):
    template = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("when", T.DateType()),
        ]
    )
    df = read_csv_typed(spark, csv, template)
    assert [t for _, t in df.dtypes] == ["bigint", "double", "date"]
    assert df.filter("id = 2").collect()[0]["amount"] == 20.25


def test_template_missing_column_errors(spark, csv):
    template = T.StructType([T.StructField("nope", T.LongType())])
    with pytest.raises(ValueError, match="missing template columns"):
        cast_to_template(read_csv_all_string(spark, csv), template)


def test_table_name_derivation():
    # data-query.py:62-68: strip extension, sanitize, lowercase
    assert derive_table_name("Sales Data-2024.CSV") == "sales_data_2024"
    assert derive_table_name("a.b.c.txt") == "a_b_c"
    assert derive_table_name("noext") == "noext"


class TestJsonl:
    def test_typed_read_splits_corrupt_lines(self, spark, tmp_path):
        from pyspark.sql import types as T

        from etl_notifier_pipeline_spark.sources.ingest import (
            read_jsonl,
            split_corrupt,
        )

        p = tmp_path / "docs.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "hello world"}\n'
            "this is not json\n"
            '{"doc_id": 2, "text": "second"}\n'
            '{"doc_id": "NaNope", "text": 3}\n'
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        df = read_jsonl(spark, str(p), template=schema)
        clean, dead = split_corrupt(df)
        rows = {r.doc_id: r.text for r in clean.collect()}
        assert rows == {1: "hello world", 2: "second"}
        dead_lines = [r.raw_line for r in dead.collect()]
        assert "this is not json" in dead_lines[0] or len(dead_lines) == 2
        # imposed schema: no inference scan, columns exactly as templated
        assert clean.columns == ["doc_id", "text"]
        df.unpersist()  # release the batch cache (see split_corrupt docs)

    def test_untemplated_read_infers(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.sources.ingest import read_jsonl

        p = tmp_path / "ok.jsonl"
        p.write_text('{"a": 1}\n{"a": 2}\n')
        df = read_jsonl(spark, str(p))
        assert [r.a for r in df.orderBy("a").collect()] == [1, 2]

    def test_empty_jsonl_raises(self, spark, tmp_path):
        from etl_notifier_pipeline_spark.sources.ingest import (
            EmptyInputError,
            read_jsonl,
        )

        p = tmp_path / "empty.jsonl"
        p.write_text("")
        with pytest.raises(EmptyInputError):
            read_jsonl(spark, str(p))
