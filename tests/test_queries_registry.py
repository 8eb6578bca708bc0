"""Registry/driver-contract sanity: every query runs at sf0.001 and the
oracle pairing rules hold (this is the cheap gate; full value parity is
tools/parity.py)."""

from __future__ import annotations

import pytest

from etl_notifier_pipeline_spark import plans

SF_DIR = "/root/testdata/sf0.001"


def test_every_query_has_doc_and_category():
    for name, spec in plans.specs().items():
        assert spec.doc, f"{name} has no docstring"
        assert spec.category


@pytest.mark.parametrize("name", sorted(plans.specs()))
def test_query_runs_and_has_stable_schema(spark, name):
    spec = plans.get(name)
    df = spec.fn(spark, SF_DIR)
    assert df.columns, name
    assert df.count() >= 0


def test_driver_contract_shape():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 40


def test_driver_session_carries_every_runtime_conf(spark, monkeypatch):
    """A session the engine did not build, once ``_ensure_session_conf``
    has run, plans with every runtime conf ``get_spark`` set on the
    test session (8 slots)."""
    import __spark_entry__ as entry

    from etl_notifier_pipeline_spark.session import runtime_conf

    keys = sorted(runtime_conf(8))
    fresh = spark.newSession()
    for k in keys:
        fresh.conf.unset(k)
    want = {k: spark.conf.get(k) for k in keys}
    assert {k: fresh.conf.get(k, None) for k in keys} != want
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    entry._ensure_session_conf(fresh)
    assert {k: fresh.conf.get(k) for k in keys} == want


def test_driver_green_rotation_counts_only_passes(tmp_path, monkeypatch):
    """The catalog-order rotation reads CORRECTNESS_r*.json dynamically:
    green rows leave the priority set, failed/errored rows re-enter it,
    and with no files present the r01+r02 snapshot applies."""
    import json

    from etl_notifier_pipeline_spark.plans import registry as R

    rows = {
        "good_hash": {"rows_match": True, "hash_match": True, "err": None},
        "bad_hash": {"rows_match": True, "hash_match": False, "err": None},
        "errored": {"rows_match": True, "hash_match": True, "err": "boom"},
        "rows_only_ok": {"rows_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(rows))
    green = R._driver_green(root=str(tmp_path))
    assert green == {"good_hash", "rows_only_ok"}
    # no files at all -> the r01+r02 snapshot applies
    empty = tmp_path / "empty"
    empty.mkdir()
    assert R._driver_green(root=str(empty)) == R._R01_R02_SNAPSHOT
    # live value: real CORRECTNESS files exist, so the set is file-fed
    # and every r02-green query is in it
    assert "q01_pricing_summary" in R.DRIVER_CHECKED


# ---------------------------------------------------------------------------
# Runtime portability: TIMESTAMP_NTZ events parquet (VERDICT r03 item 6)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ntz_sf_dir(tmp_path_factory):
    """An sf0.001 clone whose events.parquet is explicitly written with
    isAdjustedToUTC=false (tz-naive) microsecond timestamps — the shape
    that Spark >= 3.4 reads as TIMESTAMP_NTZ when NTZ inference is on,
    which broke q20/q26/st08/st11 in round 3."""
    import os

    import pyarrow.parquet as pq

    src = SF_DIR
    dst = tmp_path_factory.mktemp("ntz_sf")
    for name in os.listdir(src):
        if name == "events.parquet":
            tbl = pq.read_table(os.path.join(src, name))
            # pyarrow writes tz-naive timestamp[us] as isAdjustedToUTC=false
            assert tbl.schema.field("ts").type.tz is None
            pq.write_table(tbl, str(dst / name))
        else:
            os.symlink(os.path.join(src, name), str(dst / name))
    return str(dst)


def _events_touching_queries():
    import inspect

    out = []
    for name, spec in sorted(plans.specs().items()):
        try:
            src = inspect.getsource(spec.fn)
        except OSError:
            src = ""
        if "events" in src:
            out.append(name)
    return out


def test_ntz_events_every_touching_query_analyzes(spark, ntz_sf_dir):
    """Every events-touching registered query must at least ANALYZE
    against an NTZ-annotated events table (analysis is where the r03
    breakage surfaced: strict chrono builtins reject TIMESTAMP_NTZ)."""
    names = _events_touching_queries()
    assert len(names) >= 20, names
    for name in names:
        df = plans.get(name).fn(spark, ntz_sf_dir)
        assert df.schema is not None, name


@pytest.mark.parametrize(
    "name",
    [
        "q20_lag_lead",
        "q26_range_frame",
        "st08_interval_join",
        "st11_interval_join_outer",
    ],
)
def test_ntz_events_chrono_queries_execute_even_with_ntz_inference(
    spark, ntz_sf_dir, name
):
    """With NTZ inference forced ON (the next Spark upgrade's default),
    catalog.load_table must still hand plans a TIMESTAMP column and the
    four chrono-heavy queries must run end-to-end."""
    from etl_notifier_pipeline_spark.catalog import load_table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        ev = load_table(spark, ntz_sf_dir, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes
        df = plans.get(name).fn(spark, ntz_sf_dir)
        assert df.count() > 0
    finally:
        if old is not None:
            spark.conf.set(key, old)


def test_results_independent_of_shuffle_partitioning(spark):
    """Determinism contract, directly: a representative slice of
    oracle-paired queries (decimal aggs, double folds, hash lattices,
    window ranks, float z-scores) must produce IDENTICAL values under
    a different spark.sql.shuffle.partitions — the driver's session
    may size shuffles differently than ours."""
    import hashlib

    names = [
        "q01_pricing_summary",
        "q79_zscore_outliers",
        "s01_cosine_topk",
        "x13_repetition_ratio",
        "x33_temperature_mixture",
        "d04_minhash_lsh_pairs",
    ]

    def value_hash(df):
        cols = sorted(df.columns)
        rows = sorted(
            "\x1f".join(repr(r[c]) for c in cols) for r in df.collect()
        )
        return hashlib.md5("\x1e".join(rows).encode()).hexdigest()

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        hashes = {}
        for parts in ("7", old):
            spark.conf.set(key, parts)
            for name in names:
                h = value_hash(plans.get(name).fn(spark, SF_DIR))
                assert hashes.setdefault(name, h) == h, (name, parts)
    finally:
        spark.conf.set(key, old)
