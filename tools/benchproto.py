"""Shared measurement protocol for every scale artifact (r7 verdict
ask #6).

r7's adjudication gap: DEPLOY/ZONEMAP/LAKEHOUSE/ANN bracketed WHOLE
runs with one canary pair (ANN's spanned 240 s), so a per-query drift
like q01 3.0 s -> 4.1 s across artifacts on an unchanged plan was
unattributable — shared-VM CPU speed here measurably varies 3.5x
within a day (docs/SCALE.md). The fix is mechanical and shared: every
MEASUREMENT (not artifact) is bracketed by its own host-speed canary
(host_canary_ms — a fixed numpy sort+cumsum kernel, ~50 ms), and
every stamped dict carries run count, per-run seconds, per-run canary
brackets, and dispersion. A reviewer separates noise from regression
by comparing sec x (canary_ref / canary_this) per run, and the
dispersion says whether best-of-N converged.

Usage (all scale tools):

    from tools.benchproto import stamped_runs
    entry = stamped_runs(lambda: run_query())            # 3 runs
    entry = stamped_runs(one_commit, n_runs=1)           # one-shot,
        # still canary-bracketed so drift stays attributable

``run_once`` returns either seconds or (seconds, extra_metrics_dict);
the extras of the BEST run are merged into the stamp.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROTOCOL_VERSION = "canary-per-measurement-v2-io"


def host_canary_ms(reps: int = 3) -> float:
    """Pinned single-thread compute kernel bracketing every measurement.
    This is a shared VM whose effective CPU speed was measured varying
    3.5x within one day (docs/SCALE.md) — without a canary, a
    round-over-round wall-clock delta on identical plans is
    unadjudicable noise (r6: q01 +42% with zero hot-path changes).
    Best-of-``reps`` of a fixed numpy sort+cumsum over 4M floats
    (deterministic input, BLAS-free so thread-count config can't skew
    it). Compare artifacts as sec * (canary_ref / canary_this)."""
    import numpy as np

    x0 = np.random.default_rng(42).random(1 << 22)
    best = float("inf")
    for _ in range(reps):
        x = x0.copy()
        t0 = time.perf_counter()
        np.sort(x)
        np.cumsum(x)
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


IO_CANARY_BUDGET = 1 << 28  # 256 MB — fixed, so ms compares across rounds


def io_canary_ms(
    reps: int = 3,
    budget_bytes: int = IO_CANARY_BUDGET,
    sf_dir: str | None = None,
) -> float | None:
    """IO/page-cache canary (r12 verdict ask #1): the CPU canary is a
    cache-resident single-thread kernel, blind to the storage/VFS axis
    — r12's +14.8% CPU-normalized sf0.1 residual was unattributable
    because nothing measured whether the bench INPUTS were page-cache
    warm and how fast the buffered-read path ran that session. This
    probe sequentially re-reads the parquet fixtures under ``sf_dir``
    (default ``catalog.DEFAULT_SF_DIR``), cycling through them until a
    FIXED ``budget_bytes``, so the byte count — and therefore the ms —
    is comparable across rounds at the same sf_dir, through unbuffered
    1 MB ``read()`` calls. Warm page cache lands ~30-60 ms; a cold
    cache or IO-contended host shows up as a multiple. Compare next to
    ``host_canary_ms``: a wall regression with a flat CPU canary but an
    elevated IO canary is host IO weather, not an engine change.
    Returns None when the fixture dir has no readable files (canaries
    must never fail a bench run)."""
    import glob

    if sf_dir is None:
        from etl_notifier_pipeline_spark.catalog import DEFAULT_SF_DIR

        sf_dir = DEFAULT_SF_DIR
    # The whole probe is best-effort: a file deleted between glob and
    # open, a permission hole, or a stray directory named *.parquet
    # must degrade to None, not abort a multi-hour artifact run at a
    # stamp boundary (the "never fail a bench run" contract above —
    # the empty-dir guard alone did not honor it, r13 review fix).
    try:
        paths: list[str] = []
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            if os.path.isdir(p):
                paths.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
            else:
                paths.append(p)
        paths = [
            p
            for p in paths
            if os.path.isfile(p) and os.path.getsize(p) > 0
        ]
        if not paths:
            return None
        chunk = 1 << 20
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            remaining = budget_bytes
            i = 0
            while remaining > 0:
                with open(paths[i % len(paths)], "rb", buffering=0) as f:
                    while remaining > 0:
                        b = f.read(min(chunk, remaining))
                        if not b:
                            break
                        remaining -= len(b)
                i += 1
            best = min(best, time.perf_counter() - t0)
        return round(best * 1000, 2)
    except OSError:
        return None


# Where stamp IO-canary brackets read from, set ONCE per harness via
# configure_io_canary(). The r13 review caught two defects in the v2
# default: (1) stamps probed $SPARK_GRAFT_SF_DIR/sf0.1 regardless of
# the directory the harness actually measured, so an IO stall on the
# measured volume showed a FLAT canary and the artifact mis-attributed
# the movement; (2) stamp-dense ladders (lakehouse/zonemap: dozens of
# n_runs=1 sub-second stamps) paid 2 x 256 MB of probe reads per
# stamp — tens of GB per artifact, perturbing the page cache the
# canary exists to observe. Harness mains now point the probe at
# their own sf_dir, or disable it where the stamps are denser than
# the probe is informative.
_IO_CANARY_DIR: str | None = None  # None = io_canary_ms's default
_IO_CANARY_ENABLED = True


def configure_io_canary(sf_dir: str | None, *, enabled: bool = True) -> None:
    """Point stamp IO-canary brackets at ``sf_dir`` (the directory the
    harness measures; None restores the env/sf0.1 default), or disable
    them for stamp-dense ladders (``enabled=False``)."""
    global _IO_CANARY_DIR, _IO_CANARY_ENABLED
    _IO_CANARY_DIR = sf_dir
    _IO_CANARY_ENABLED = enabled


def _io_canary() -> float | None:
    if not _IO_CANARY_ENABLED:
        return None
    return io_canary_ms(reps=1, sf_dir=_IO_CANARY_DIR)


def stamped_runs(run_once, n_runs: int = 3) -> dict:
    """Run ``run_once`` ``n_runs`` times, each run bracketed by its
    own host canary. Returns the protocol stamp:

    - ``sec``            best run (the headline, as every artifact
                         before r8 reported — comparable backwards)
    - ``runs_sec``       every run's wall seconds
    - ``canary_ms``      [pre, post] canary per run (consecutive runs
                         share the boundary canary — n_runs+1 kernels
                         total, so the bracket cost stays ~50 ms/run)
    - ``io_canary_ms``   [pre, post] IO/page-cache canary per run
                         (io_canary_ms, 1-rep brackets): the
                         axis the CPU kernel cannot see — r12's
                         unattributable +14.8% CPU-normalized sf0.1
                         residual. Omitted when the probe has no
                         fixture files to read.
    - ``dispersion_pct`` (max-min)/median * 100 across runs — did
                         best-of-N converge, or is the host unstable?
                         ``None`` when n_runs == 1: a one-shot stamp
                         carries no convergence information, and a
                         literal 0.0 would read as a convergence CLAIM
                         (r9 verdict, what's-wrong #2)
    """
    runs: list[float] = []
    canaries: list[list[float]] = []
    io_canaries: list[list[float | None]] = []
    extras: list[dict | None] = []
    c_prev = host_canary_ms()
    io_prev = _io_canary()
    for _ in range(n_runs):
        r = run_once()
        sec, extra = r if isinstance(r, tuple) else (r, None)
        c_next = host_canary_ms()
        io_next = _io_canary()
        runs.append(round(float(sec), 3))
        canaries.append([c_prev, c_next])
        io_canaries.append([io_prev, io_next])
        extras.append(extra)
        c_prev = c_next
        io_prev = io_next
    best_i = min(range(n_runs), key=lambda i: runs[i])
    med = statistics.median(runs)
    stamp = {
        "sec": runs[best_i],
        "runs_sec": runs,
        "canary_ms": canaries,
        "dispersion_pct": (
            round(100.0 * (max(runs) - min(runs)) / med, 1)
            if n_runs > 1 and med
            else None
        ),
    }
    if any(v is not None for pair in io_canaries for v in pair):
        stamp["io_canary_ms"] = io_canaries
    if extras[best_i]:
        # protocol keys are reserved: an extra named e.g. "sec" would
        # silently overwrite the stamped wall time — colliding extras
        # land under a namespaced "extra" dict instead
        clash = {k: v for k, v in extras[best_i].items() if k in stamp}
        stamp.update(
            {k: v for k, v in extras[best_i].items() if k not in stamp}
        )
        if clash:
            stamp["extra"] = clash
    return stamp


def protocol_header(n_runs: int, **kw) -> dict:
    """The artifact-level protocol block every JSON carries."""
    return {"runs": n_runs, "canary": PROTOCOL_VERSION, **kw}


def _entry_sec(entry) -> float | None:
    """A prev artifact's per-query entry: stamped dict or bare float.
    Malformed entries (non-numeric strings, wrong shapes) degrade to
    None — one bad prev entry must not abort a whole vs_prev table
    (nor, transitively, an artifact write after an expensive run)."""
    if entry is None:
        return None
    if isinstance(entry, dict):
        entry = entry.get("sec")
        if entry is None:
            return None
    try:
        sec = float(entry)
    except (TypeError, ValueError):
        return None
    return sec if sec > 0 else None


def _canary_avg(doc: dict) -> float | None:
    vals = [
        v
        for v in (
            doc.get("host_canary_ms_pre"),
            doc.get("host_canary_ms_post"),
        )
        if v
    ]
    return sum(vals) / len(vals) if vals else None


def _profile(doc: dict) -> str | None:
    """An artifact's numeric profile. Stamps of the two-harness era
    (``BENCH_STAMPS_r15.json`` and before) carry the protocol version
    as a bare string and no profile there."""
    protocol = doc.get("protocol")
    return protocol.get("numeric_profile") if isinstance(protocol, dict) else None


def artifact_vs_prev(prev: dict | None, this_doc: dict) -> dict | None:
    """Canary-normalized comparison of a bench artifact against the
    previous one (r11 verdict gap #1: the deploy
    rung's DuckDB twin moved 2.5x on host weather alone and the raw
    stamps couldn't decompose the ratio swing mechanically).

    Both engines' walls are rescaled to the PREVIOUS artifact's host
    speed (sec * prev_canary / this_canary — canary ms is inversely
    proportional to CPU speed), so each per-query ratio movement
    decomposes into: (a) a norm delta surviving on the Spark side only
    = engine/plan change; (b) on the twin side only = baseline change;
    (c) raw deltas that VANISH under normalization = CPU weather. A
    large residual on either side with flat canaries is the axis the
    CPU canary cannot see (page cache / IO) — named in the note so a
    reader doesn't misread it as an engine change. Refuses (with a
    note) to compare across different sf_dir or numeric_profile."""
    if prev is None:
        return None
    this_sf = this_doc.get("sf_dir")
    this_profile = _profile(this_doc)
    prev_profile = _profile(prev)
    if prev.get("sf_dir") != this_sf or prev_profile != this_profile:
        return {
            "note": (
                f"prev artifact not comparable: sf_dir {prev.get('sf_dir')!r}"
                f" vs {this_sf!r}, profile {prev_profile!r} vs"
                f" {this_profile!r}"
            )
        }
    prev_canary = _canary_avg(prev)
    this_canary = _canary_avg(this_doc)
    scale = (
        prev_canary / this_canary if prev_canary and this_canary else None
    )

    def side(this_q: dict, prev_q: dict) -> dict:
        rows = {}
        for name, entry in (this_q or {}).items():
            sec = _entry_sec(entry)
            psec = _entry_sec((prev_q or {}).get(name))
            if sec is None or psec is None:
                continue
            row = {
                "prev_sec": psec,
                "sec": sec,
                "raw_delta_pct": round(100 * (sec - psec) / psec, 1),
            }
            if scale:
                row["norm_delta_pct"] = round(
                    100 * (sec * scale - psec) / psec, 1
                )
            rows[name] = row
        return rows

    spark_rows = side(this_doc.get("queries"), prev.get("queries"))
    duck_rows = side(this_doc.get("duckdb"), prev.get("duckdb"))
    out = {
        "prev_canary_ms": round(prev_canary, 2) if prev_canary else None,
        "this_canary_ms": round(this_canary, 2) if this_canary else None,
        "canary_scale": round(scale, 4) if scale else None,
        "note": (
            "norm_delta_pct rescales this artifact's walls to the prev "
            "artifact's host CPU speed; a raw delta that vanishes "
            "normalized is CPU weather, a residual with flat canaries "
            "is IO/page-cache (invisible to the CPU canary), a "
            "one-sided residual is that engine's real movement"
            if scale
            else "prev artifact predates the canary: raw deltas only"
        ),
        "spark": spark_rows,
        "duckdb": duck_rows,
    }
    prev_ratio = prev.get("ratio_vs_duckdb")
    this_ratio = this_doc.get("ratio_vs_duckdb")
    if prev_ratio and this_ratio:
        out["ratio_vs_duckdb"] = {"prev": prev_ratio, "this": this_ratio}
        prev_q = set((prev.get("queries") or {}))
        this_q = set((this_doc.get("queries") or {}))
        if prev_q != this_q:
            # the aggregate ratios cover different query sets — only
            # the per-query rows above are apples-to-apples
            out["ratio_vs_duckdb"]["caveat"] = (
                f"query sets differ: prev={len(prev_q)} this={len(this_q)}"
                f" (added {sorted(this_q - prev_q)},"
                f" removed {sorted(prev_q - this_q)})"
            )
    return out
