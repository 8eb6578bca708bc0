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
    prev = _mk_doc("/x/sf100", "oracle", 50.0,
                   {"q1": 5.0}, {"q1": 4.0}, ratio=1.25)
    this = _mk_doc("/x/sf100", "oracle", 100.0,
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

    prev = _mk_doc("/x/sf10", "oracle", 50.0, {"q1": 1.0}, {})
    this = _mk_doc("/x/sf100", "oracle", 50.0, {"q1": 1.0}, {})
    got = artifact_vs_prev(prev, this)
    assert set(got) == {"note"} and "not comparable" in got["note"]
    assert artifact_vs_prev(None, this) is None
    # artifacts of the deleted deployment profile stay incomparable
    dep = _mk_doc("/x/sf100", "deployment", 50.0, {"q1": 1.0}, {})
    assert "not comparable" in artifact_vs_prev(dep, this)["note"]


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

    prev = _mk_doc("/x/sf10", "oracle", 50.0,
                   {"q1": 1.0}, {"q1": 1.0}, ratio=1.0)
    this = _mk_doc("/x/sf10", "oracle", 50.0,
                   {"q1": 1.0, "q2": 2.0}, {"q1": 1.0, "q2": 1.0},
                   ratio=1.5)
    got = artifact_vs_prev(prev, this)
    assert "caveat" in got["ratio_vs_duckdb"]
    assert "added ['q2']" in got["ratio_vs_duckdb"]["caveat"]
    # identical sets: no caveat
    same = artifact_vs_prev(prev, _mk_doc(
        "/x/sf10", "oracle", 50.0, {"q1": 2.0}, {"q1": 1.0}, ratio=2.0))
    assert "caveat" not in same["ratio_vs_duckdb"]


def test_io_canary_fixed_budget_and_graceful_degradation():
    """r12 verdict ask #1: the IO/page-cache canary must (a) read a
    FIXED byte budget so its ms compares across rounds, (b) return
    None — never raise — when the fixture dir is absent (canaries must
    not fail a bench run), and (c) ride along in stamped_runs brackets
    when available."""
    from tools.benchproto import io_canary_ms

    ms = io_canary_ms(reps=1, budget_bytes=1 << 22,
                      sf_dir="/root/testdata/sf0.001")
    assert ms is not None and ms > 0
    assert io_canary_ms(sf_dir="/nonexistent/dir") is None
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
    from tools.benchproto import io_canary_ms

    (tmp_path / "ghost.parquet").symlink_to(tmp_path / "gone")
    assert io_canary_ms(sf_dir=str(tmp_path)) is None


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


def _function_scope_imports(tree):
    """(lineno, module, from-names or None) for every ``import`` /
    ``from ... import`` inside a function body, at any depth."""
    import ast

    found = []

    def visit(node, in_fn):
        if in_fn and isinstance(node, ast.Import):
            found.extend((node.lineno, a.name, None) for a in node.names)
        elif in_fn and isinstance(node, ast.ImportFrom):
            found.append(
                (node.lineno, node.module, [a.name for a in node.names])
            )
        in_fn = in_fn or isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for child in ast.iter_child_nodes(node):
            visit(child, in_fn)

    visit(tree, False)
    return found


def test_tools_reference_only_names_they_import():
    """Every name ``bench.py`` or a tools/ harness reaches from inside a
    function must resolve — the r13 ADVICE high: lakehouse_bench.main()
    called configure_io_canary without importing it, so the harness
    crashed with NameError on EVERY invocation and no test executed
    that path. Two checks per file:

    - every identifier a function scope resolves as GLOBAL (symtable
      gives real scoping: closures, comprehensions, nested defs) is a
      module attribute, a builtin, or a module dunder;
    - every function-scope ``import m`` finds ``m``
      (``importlib.util.find_spec``), and every ``from m import n``
      finds ``m`` and ``n`` on it (or a submodule ``m.n``) — a lazy
      import of a deleted module fails only when its line runs;
    - every whole string literal ending in ``.py`` names a file under
      the repo root or ``tools/`` — a subprocess path such as
      ``os.path.join(TOOLS_DIR, "x.py")`` is no import, and a deleted
      script fails only when the subprocess starts.

    Importing the modules is cheap: none builds a session at import."""
    import ast
    import builtins
    import glob
    import importlib
    import importlib.util
    import os
    import symtable

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "bench.py")] + sorted(
        glob.glob(os.path.join(root, "tools", "*.py"))
    )
    builtin_names = set(dir(builtins)) | {"__file__", "__name__", "__doc__"}

    def spec_of(name):
        try:
            return importlib.util.find_spec(name)
        except ModuleNotFoundError:  # a missing parent package
            return None

    problems = []
    for path in paths:
        rel = os.path.relpath(path, root)
        modname = os.path.splitext(rel)[0].replace(os.sep, ".")
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
                f"{rel}: function-scope global "
                f"{name!r} does not resolve on the imported module"
            )
        for line, module, names in _function_scope_imports(ast.parse(src, path)):
            if spec_of(module) is None:
                problems.append(f"{rel}:{line}: no module {module!r}")
                continue
            for name in names or ():
                if not (
                    hasattr(importlib.import_module(module), name)
                    or spec_of(f"{module}.{name}") is not None
                ):
                    problems.append(
                        f"{rel}:{line}: {module!r} has no {name!r}"
                    )
        for node in ast.walk(ast.parse(src, path)):
            lit = getattr(node, "value", None)
            if (
                isinstance(node, ast.Constant)
                and isinstance(lit, str)
                and lit.endswith(".py")
                and not any(
                    os.path.isfile(os.path.join(root, d, lit))
                    for d in ("", "tools")
                )
            ):
                problems.append(f"{rel}:{node.lineno}: no file {lit!r}")
    assert not problems, "\n".join(problems)


def test_bench_metrics_read_the_status_store(spark):
    """bench.py records ``metrics.measured``, which reads
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


def test_bench_counts_codegen_compiles(spark):
    """``codegenCompiles`` counts the JVM's Janino compilations: a plan
    no earlier run generated (its literal is in the generated source)
    compiles at least one class."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.metrics import measured

    with measured(spark, "codegen-compiles") as m:
        spark.range(10).select((F.col("id") + F.lit(918_273_645)).alias("v")).collect()
    assert m["codegenCompiles"] > 0


def test_stamps_paths_number_from_the_newest_stamps(tmp_path):
    """bench.py writes the round after the newest ``BENCH_STAMPS_r*.json``
    and compares against that one, so a run never overwrites a
    committed round. The driver's ``BENCH_r*.json`` records play no
    part: the newest of them may lag the stamps by rounds."""
    import bench

    assert bench.stamps_paths(str(tmp_path)) == (
        str(tmp_path / "BENCH_STAMPS_r01.json"), None,
    )
    for name in ("BENCH_STAMPS_r07.json", "BENCH_STAMPS_r03.json",
                 "BENCH_r14.json", "BENCH_STAMPS_r07.json.bak"):
        (tmp_path / name).write_text("{}")
    assert bench.stamps_paths(str(tmp_path)) == (
        str(tmp_path / "BENCH_STAMPS_r08.json"),
        str(tmp_path / "BENCH_STAMPS_r07.json"),
    )


def test_bench_doc_vs_prev_same_schema_and_old_stamps():
    """``vs_prev`` of the one bench artifact (bench.main's protocol
    block, CPU and IO canaries, ``cpus``/``master``): against a prev of
    the same schema every shared query gets a canary-normalized delta;
    the committed stamps of the two-harness era
    (``BENCH_STAMPS_r15.json``: bare protocol string, no ``sf_dir``) are
    refused with a note."""
    import json

    import bench
    from tools.benchproto import artifact_vs_prev, protocol_header

    def doc(canary, spark):
        return dict(
            _mk_doc("/x/sf0.1", None, canary, spark,
                    {k: v / 10 for k, v in spark.items()}),
            protocol=protocol_header(
                1, warm=False, symmetric=True,
                numeric_profile=bench.NUMERIC_PROFILE, driver_mem="8g",
            ),
            cpus=4, master="local[4]",
            io_canary_ms_pre=50.0, io_canary_ms_post=50.0,
        )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    this = doc(100.0, {"q01": 2.0, "q05": 3.0})
    got = artifact_vs_prev(doc(50.0, {"q01": 1.0, "q05": 2.0}), this)
    assert got["spark"]["q01"]["norm_delta_pct"] == 0.0
    assert got["spark"]["q05"]["norm_delta_pct"] == -25.0
    assert got["duckdb"]["q01"]["norm_delta_pct"] == 0.0
    with open(os.path.join(root, "BENCH_STAMPS_r15.json")) as f:
        old = json.load(f)
    got = artifact_vs_prev(old, this)
    assert set(got) == {"note"} and "not comparable" in got["note"]


def test_growth_cell_runs_on_a_small_fixture(tmp_path):
    """scale_growth's cell command, in a fresh process, on a fixture so
    small that the single cold run ends within a second: the harness
    sets a 1 s executor heartbeat, so ``metrics.peak_heap`` has a
    sample (at Spark's default 10 s it raised ``MeasurementError``)."""
    import json
    import subprocess

    from tools.scale_growth import cell_command

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "cell.json"
    cmd = cell_command(
        os.path.join(root, "perfbench", "fixture", "sf0.01"),
        "q01_pricing_summary", str(out),
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(out) as f:
        q = json.load(f)["queries"]["q01_pricing_summary"]
    assert q["rows"] > 0
    assert q["peakJvmHeapBytes"] > 0
