"""tools/benchproto protocol-stamp invariants (r8 ADVICE, low):
median must be the true median for even run counts, and run_once
extras must never overwrite reserved protocol keys."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.benchproto import stamped_runs  # noqa: E402


def test_even_n_runs_uses_true_median_for_dispersion():
    # runs 1.0, 2.0, 3.0, 10.0 -> median 2.5 (upper-middle would be 3.0)
    seq = iter([1.0, 2.0, 3.0, 10.0])
    stamp = stamped_runs(lambda: next(seq), n_runs=4)
    assert stamp["sec"] == 1.0
    assert stamp["runs_sec"] == [1.0, 2.0, 3.0, 10.0]
    # dispersion = (10-1)/2.5*100 = 360.0 with the true median
    assert stamp["dispersion_pct"] == 360.0
    # n_runs+1 canaries -> n_runs brackets of 2
    assert len(stamp["canary_ms"]) == 4
    assert all(len(pair) == 2 for pair in stamp["canary_ms"])


def test_extras_cannot_clobber_protocol_keys():
    stamp = stamped_runs(
        lambda: (2.0, {"sec": 99.0, "runs_sec": [0], "rows": 7}),
        n_runs=1,
    )
    # protocol keys survive; colliding extras land namespaced
    assert stamp["sec"] == 2.0
    assert stamp["runs_sec"] == [2.0]
    assert stamp["rows"] == 7
    assert stamp["extra"] == {"sec": 99.0, "runs_sec": [0]}


def test_best_run_extras_merged():
    seq = iter([(3.0, {"rows": 30}), (1.0, {"rows": 10}), (2.0, {"rows": 20})])
    stamp = stamped_runs(lambda: next(seq), n_runs=3)
    assert stamp["sec"] == 1.0 and stamp["rows"] == 10
    assert "extra" not in stamp


def test_single_run_stamp_has_null_dispersion():
    """r9 what's-wrong #2: a one-shot stamp (n_runs=1) must label
    dispersion None — 0.0 would read as a convergence claim the single
    run cannot make."""
    from tools.benchproto import stamped_runs

    stamp = stamped_runs(lambda: 1.5, n_runs=1)
    assert stamp["dispersion_pct"] is None
    assert stamp["sec"] == 1.5 and stamp["runs_sec"] == [1.5]


def _mk_doc(sf_dir, profile, canary, spark, duck, ratio=None):
    return {
        "sf_dir": sf_dir,
        "protocol": {"numeric_profile": profile},
        "host_canary_ms_pre": canary,
        "host_canary_ms_post": canary,
        "queries": {k: {"sec": v} for k, v in spark.items()},
        "duckdb": {k: {"sec": v} for k, v in duck.items()},
        **({"ratio_vs_duckdb": ratio} if ratio else {}),
    }


def test_artifact_vs_prev_decomposes_cpu_weather():
    """r11 verdict gap #1: a raw delta that tracks the canary shift is
    CPU weather and must vanish normalized; a delta the canary cannot
    explain must survive, on the side that actually moved."""
    from tools.benchproto import artifact_vs_prev

    # host got 2x slower (canary 50 -> 100 ms); spark wall doubled with
    # it (pure weather); the duck twin halved AGAINST the slower host
    # (real movement, e.g. page cache)
    prev = _mk_doc("/x/sf100", "deployment", 50.0,
                   {"q1": 5.0}, {"q1": 4.0}, ratio=1.25)
    this = _mk_doc("/x/sf100", "deployment", 100.0,
                   {"q1": 10.0}, {"q1": 2.0}, ratio=5.0)
    got = artifact_vs_prev(prev, this)
    assert got["canary_scale"] == 0.5
    assert got["spark"]["q1"]["raw_delta_pct"] == 100.0
    assert got["spark"]["q1"]["norm_delta_pct"] == 0.0  # weather
    assert got["duckdb"]["q1"]["raw_delta_pct"] == -50.0
    assert got["duckdb"]["q1"]["norm_delta_pct"] == -75.0  # real
    assert got["ratio_vs_duckdb"] == {"prev": 1.25, "this": 5.0}


def test_artifact_vs_prev_refuses_mismatched_rungs():
    from tools.benchproto import artifact_vs_prev

    prev = _mk_doc("/x/sf10", "deployment", 50.0, {"q1": 1.0}, {})
    this = _mk_doc("/x/sf100", "deployment", 50.0, {"q1": 1.0}, {})
    got = artifact_vs_prev(prev, this)
    assert set(got) == {"note"} and "not comparable" in got["note"]
    assert artifact_vs_prev(None, this) is None


def test_artifact_vs_prev_handles_bare_float_and_missing_canary():
    from tools.benchproto import artifact_vs_prev

    prev = _mk_doc("/x/sf100", "oracle", None, {}, {})
    prev["queries"] = {"q1": 2.0}  # pre-stamp schema: bare float
    this = _mk_doc("/x/sf100", "oracle", 80.0, {"q1": 3.0}, {})
    got = artifact_vs_prev(prev, this)
    assert got["spark"]["q1"]["raw_delta_pct"] == 50.0
    assert "norm_delta_pct" not in got["spark"]["q1"]
    assert "raw deltas only" in got["note"]


def test_artifact_vs_prev_flags_differing_query_sets():
    """The aggregate ratio comparison is only apples-to-apples when
    both artifacts measured the same queries — a query-set change must
    be disclosed next to the ratio pair."""
    from tools.benchproto import artifact_vs_prev

    prev = _mk_doc("/x/sf10", "deployment", 50.0,
                   {"q1": 1.0}, {"q1": 1.0}, ratio=1.0)
    this = _mk_doc("/x/sf10", "deployment", 50.0,
                   {"q1": 1.0, "q2": 2.0}, {"q1": 1.0, "q2": 1.0},
                   ratio=1.5)
    got = artifact_vs_prev(prev, this)
    assert "caveat" in got["ratio_vs_duckdb"]
    assert "added ['q2']" in got["ratio_vs_duckdb"]["caveat"]
    # identical sets: no caveat
    same = artifact_vs_prev(prev, _mk_doc(
        "/x/sf10", "deployment", 50.0, {"q1": 2.0}, {"q1": 1.0}, ratio=2.0))
    assert "caveat" not in same["ratio_vs_duckdb"]


def test_io_canary_fixed_budget_and_graceful_degradation():
    """r12 verdict ask #1: the IO/page-cache canary must (a) read a
    FIXED byte budget so its ms compares across rounds, (b) return
    None — never raise — when the fixture dir is absent (canaries must
    not fail a bench run), and (c) ride along in stamped_runs brackets
    when available."""
    import bench

    ms = bench.io_canary_ms(reps=1, budget_bytes=1 << 22,
                            sf_dir="/root/testdata/sf0.001")
    assert ms is not None and ms > 0
    assert bench.io_canary_ms(sf_dir="/nonexistent/dir") is None
    stamp = stamped_runs(lambda: 0.1, n_runs=1)
    assert "io_canary_ms" in stamp
    assert len(stamp["io_canary_ms"]) == 1
    assert all(len(pair) == 2 for pair in stamp["io_canary_ms"])


def test_entry_sec_malformed_entries_degrade_to_none():
    """A malformed prev artifact entry (non-numeric, zero, wrong
    shape) must degrade to None, not crash an artifact write after an
    expensive run (r12 advice)."""
    from tools.benchproto import _entry_sec

    assert _entry_sec(None) is None
    assert _entry_sec(2.5) == 2.5
    assert _entry_sec({"sec": 3.0}) == 3.0
    assert _entry_sec({"sec": "garbage"}) is None
    assert _entry_sec("not-a-number") is None
    assert _entry_sec(0.0) is None  # zero prev_sec -> no ratio
    assert _entry_sec({"wrong": "shape"}) is None
    assert _entry_sec([1, 2]) is None


def test_io_canary_per_file_errors_degrade_to_none(tmp_path):
    """An unreadable *.parquet entry (dangling symlink standing in
    for delete-during-probe / permission holes) must degrade the
    canary to None, not raise out of a stamp boundary mid-artifact
    (r13 review: the empty-dir guard alone did not honor the
    'canaries never fail a bench run' contract)."""
    import bench

    (tmp_path / "ghost.parquet").symlink_to(tmp_path / "gone")
    assert bench.io_canary_ms(sf_dir=str(tmp_path)) is None


def test_configure_io_canary_dir_and_disable(tmp_path):
    """Harnesses point the stamp IO canary at the directory they
    measure, or disable it for stamp-dense ladders — both via
    configure_io_canary (r13 review: stamps probed sf0.1 regardless
    of the measured dir, and dense ladders paid 512 MB/stamp).
    The enabled branch probes a tmp fixture, not machine-specific
    test data (r13 ADVICE: the suite must not require /root/testdata)."""
    from tools import benchproto

    (tmp_path / "tiny.parquet").write_bytes(b"x" * 4096)
    try:
        benchproto.configure_io_canary(None, enabled=False)
        stamp = benchproto.stamped_runs(lambda: 0.1, n_runs=1)
        assert "io_canary_ms" not in stamp
        benchproto.configure_io_canary("/nonexistent/dir")
        stamp = benchproto.stamped_runs(lambda: 0.1, n_runs=1)
        assert "io_canary_ms" not in stamp  # probe degrades to None
        benchproto.configure_io_canary(str(tmp_path))
        stamp = benchproto.stamped_runs(lambda: 0.1, n_runs=1)
        assert "io_canary_ms" in stamp
    finally:
        benchproto.configure_io_canary(None, enabled=True)


def test_tools_reference_only_names_they_import():
    """Every GLOBAL name a tools/ harness references from inside a
    function must resolve on the imported module — the r13 ADVICE high:
    lakehouse_bench.main() called configure_io_canary without importing
    it, so the harness crashed with NameError on EVERY invocation and
    no test executed that path. symtable gives real scoping (closures,
    comprehensions, nested defs), so: collect every identifier any
    function scope resolves as GLOBAL, import the module (cheap — no
    tool builds a session at import), and require each to be a module
    attribute, a builtin, or a module dunder."""
    import builtins
    import glob
    import importlib
    import os
    import symtable

    tools_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    builtin_names = set(dir(builtins)) | {"__file__", "__name__", "__doc__"}
    problems = []
    for path in sorted(glob.glob(os.path.join(tools_dir, "*.py"))):
        modname = "tools." + os.path.splitext(os.path.basename(path))[0]
        with open(path) as f:
            src = f.read()
        mod = importlib.import_module(modname)

        def walk(table, out):
            if table.get_type() in ("function",):
                for s in table.get_symbols():
                    if s.is_global() and s.is_referenced():
                        out.add(s.get_name())
            for child in table.get_children():
                walk(child, out)

        referenced: set[str] = set()
        walk(symtable.symtable(src, path, "exec"), referenced)
        for name in sorted(referenced):
            if name in builtin_names or hasattr(mod, name):
                continue
            problems.append(
                f"{os.path.basename(path)}: function-scope global "
                f"{name!r} does not resolve on the imported module"
            )
    assert not problems, "\n".join(problems)


def test_scale_bench_metrics_read_the_status_store(spark):
    """tools/scale_bench.py records ``metrics.measured``, which reads
    stage metrics and GC time from the JVM status store that the engine
    session keeps with its UI disabled: a run's stages show up with
    their counters, and the GC read returns a number, not a REST error."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.metrics import METRIC_FIELDS, measured

    assert spark.conf.get("spark.ui.enabled") == "false"
    with measured(spark, "status-store-read") as m:
        spark.range(20_000).groupBy((F.col("id") % 7).alias("g")).count().collect()
    assert m["jobs"] >= 1
    assert set(METRIC_FIELDS) <= set(m)
    assert m["shuffleWriteBytes"] > 0
    assert isinstance(m["jvmGcTimeMs"], int) and m["jvmGcTimeMs"] >= 0


def test_scale_bench_counts_codegen_compiles(spark):
    """``codegenCompiles`` counts the JVM's Janino compilations: a plan
    no earlier run generated (its literal is in the generated source)
    compiles at least one class."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.metrics import measured

    with measured(spark, "codegen-compiles") as m:
        spark.range(10).select((F.col("id") + F.lit(918_273_645)).alias("v")).collect()
    assert m["codegenCompiles"] > 0
