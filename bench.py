"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline set covers each operator family the engine claims: scan+
agg (q01), star join (q05), window (q08), date rollup (q18), MERGE
shape (m02), text tf (x02), two-phase global prefix-sum block packing
(x22), minhash-LSH dedup (d04), connected-components dedup clusters
(d06), incremental batch-vs-corpus dedup (d13), cosine top-k (s01),
IVF ANN (s04), sessionization (st03), and arbitrary-stateful running
totals (st05).
Results are materialized with the noop sink so timings measure
compute, not driver transfer.

Protocol (r03): warm once, then best-of-3 measured runs per query —
r02's best-of-2 let scheduling jitter drift totals by 20% with no plan
change. The DuckDB twin of every oracle-paired headline query runs
under the same warm+best-of-3 protocol in-process, and rides along in
the JSON (`duckdb` + `ratio_vs_duckdb`), so the ratio is computed by
the harness, not hand-derived later.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_notifier_pipeline_spark import caching, plans  # noqa: E402
from etl_notifier_pipeline_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402
from tools.benchproto import PROTOCOL_VERSION  # noqa: E402
from tools.parity import _duck_path  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q08_topk_per_group",
    "q18_monthly_revenue",
    "m02_upsert",
    "x02_term_frequency",
    "x22_block_pack_spans",
    "d04_minhash_lsh_pairs",
    "d06_dedup_clusters",
    "d13_incremental_dedup",
    "s01_cosine_topk",
    "s04_ivf_topk",
    "st03_session_window",
    "st05_stateful_running_totals",
    # ADDED r14 (additive only — the 14 entries above are frozen by
    # the bench contract): a CPU-scaling probe, because every sf0.1
    # headline query sits on a sub-1.5 s scheduling floor where 8 vs
    # 32 cores is invisible (r13 PERF flagged suspect_cpus_ignored on
    # exactly that). The probe is embarrassingly parallel compute over
    # the lineitem fixture, so its wall scales ~linearly with
    # $SPARK_GRAFT_CPUS and the driver's low-core rerun gets one rung
    # where parallelism is measurable. No DuckDB twin (excluded from
    # ratio_vs_duckdb like any twin-less entry).
    "probe_cpu_scaling",
]

N_RUNS = 3

# The registry's bit-exact decimal contract: every headline query runs
# its registry plan. Stamped into every artifact, because committed
# artifacts from before the deployment profile's deletion carry
# "deployment" and must not be compared with this one.
NUMERIC_PROFILE = "oracle"


def host_canary_ms(reps: int = 3) -> float:
    """Pinned single-thread compute kernel, stamped into every bench
    artifact. This is a shared VM whose effective CPU speed was
    measured varying 3.5x within one day (docs/SCALE.md) — without a
    canary, a round-over-round wall-clock delta on identical plans is
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
    probe sequentially re-reads the bench's own parquet fixtures
    (cycling through them until a FIXED ``budget_bytes``, so the byte
    count — and therefore the ms — is comparable across rounds at the
    same sf_dir) through unbuffered 1 MB ``read()`` calls. Warm page
    cache lands ~30-60 ms; a cold cache or IO-contended host shows up
    as a multiple. Compare next to ``host_canary_ms``: a wall
    regression with a flat CPU canary but an elevated IO canary is
    host IO weather, not an engine change. Returns None when the
    fixture dir has no readable files (canaries must never fail a
    bench run)."""
    import glob as _glob

    if sf_dir is None:
        sf_dir = DEFAULT_SF_DIR
    # The whole probe is best-effort: a file deleted between glob and
    # open, a permission hole, or a stray directory named *.parquet
    # must degrade to None, not abort a multi-hour artifact run at a
    # stamp boundary (the "never fail a bench run" contract above —
    # the empty-dir guard alone did not honor it, r13 review fix).
    try:
        paths: list[str] = []
        for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
            if os.path.isdir(p):
                paths.extend(sorted(_glob.glob(os.path.join(p, "*.parquet"))))
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

# DuckDB twins for headline queries whose registry entry is rows-only
# (no ANSI oracle): the twin runs the SAME TASK the way an exact SQL
# engine would, so ratio_vs_duckdb covers the whole headline set.
# - s04 (IVF ANN top-5): exact KNN — identical query set/k to s01's
#   oracle; the IVF index exists to BEAT this exact scan, so the exact
#   scan is the honest comparable.
# - st05 (stateful running totals): its drained final state per user
#   is exactly the per-user count+sum aggregate.
TWIN_SQL: dict[str, str] = {
    "s04_ivf_topk": """
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (list_reduce(list_transform(range(1, 65),
            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)
          / (sqrt(list_reduce(list_transform(range(1, 65),
               i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x, y) -> x + y))
           * sqrt(list_reduce(list_transform(range(1, 65),
               i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y))))
           AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY
           (list_reduce(list_transform(range(1, 65),
              i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y))))
           DESC, c.vec_id) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= 5
""",
    "st05_stateful_running_totals": """
SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total_value
FROM events GROUP BY user_id
""",
}


def _probe_cpu_scaling(spark, sf_dir: str):
    """Bench-only CPU-scaling probe (NOT a registry query): a deterministic xxhash64 chain over an exploded
    lineitem projection. Shape: one tiny keyless repartition of the
    600 k-row key column (so the compute stage has 4x`defaultParallelism`
    partitions regardless of the fixture's file count — lineitem at
    sf0.1 is a single ~10 MB parquet file = ONE scan partition, which
    is exactly the observability hole this probe exists to close),
    then ~2.5 G hash evaluations with no shuffle after the fan-out.
    Value is a 2-row-free single aggregate; deterministic because
    xxhash64 is seeded and the sum is order-free."""
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.catalog import load_table

    cpus = spark.sparkContext.defaultParallelism
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    expr = F.xxhash64("l_orderkey", "i")
    for _ in range(15):
        expr = F.xxhash64(expr)
    return (
        li.repartition(4 * cpus)
        .select(
            "l_orderkey",
            F.explode(F.sequence(F.lit(1), F.lit(64))).alias("i"),
        )
        .select(expr.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # bit_xor: order-free and cannot overflow (a plain long sum
            # of ~40M hashes trips ANSI ARITHMETIC_OVERFLOW)
            F.expr("bit_xor(h)").alias("h_xor"),
        )
    )


def resolve(name: str):
    """(spark_fn, duckdb_sql) for a headline query: the registry plan
    and its oracle, else the TWIN_SQL comparable."""
    if name == "probe_cpu_scaling":
        return _probe_cpu_scaling, None
    spec = plans.get(name)
    return spec.fn, (spec.oracle or TWIN_SQL.get(name))


def best_of(n: int, fn) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def duckdb_twin_times(
    sf_dir: str,
    names: list[str],
    n_runs: int = N_RUNS,
    warm: bool = True,
    stamped: bool = False,
) -> dict[str, float | dict | None]:
    """Best-of-N DuckDB wall time per headline query (registry oracle,
    else the TWIN_SQL comparable). Callers MUST mirror the Spark
    side's protocol: pass the same warm flag and n_runs the Spark runs
    used, or the published ratio compares a warm engine to a cold one
    (the r5 asymmetry: scale_bench warmed Spark but not DuckDB).
    ``stamped=True`` returns tools/benchproto per-measurement stamps
    (dicts with sec/runs_sec/canary_ms/dispersion_pct) instead of bare
    best-of floats, so scale artifacts adjudicate DuckDB-side drift
    the same way they adjudicate Spark-side drift."""
    import duckdb

    from etl_notifier_pipeline_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count() or 8}")
    for t in TABLES:
        # amplified fixtures carry only the tables their rung needs
        # (e.g. .scale/sf100 ships the star tables + embeddings, not
        # events/documents) — register what exists; a query over a
        # missing table fails at execute with a clear name, not here
        p = table_path(sf_dir, t)
        if not os.path.exists(p):
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_duck_path(p)}')"
        )
    out: dict[str, float | dict | None] = {}
    for name in names:
        _, oracle = resolve(name)
        if not oracle:
            out[name] = None
            continue
        if warm:
            con.execute(oracle).fetchall()
        if stamped:
            from tools.benchproto import stamped_runs

            def one(oracle=oracle):
                t0 = time.perf_counter()
                con.execute(oracle).fetchall()
                return time.perf_counter() - t0

            out[name] = stamped_runs(one, n_runs=n_runs)
        else:
            out[name] = best_of(n_runs, lambda: con.execute(oracle).fetchall())
    return out


def _prev_round_artifact(root: str | None = None) -> tuple[int, dict] | None:
    """Latest committed BENCH_r{N}.json in the repo root (the driver's
    per-round record) — the baseline for canary-normalized
    round-over-round deltas. ``root`` overrides the repo root for
    tests."""
    import glob
    import re

    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict] | None = None
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if best is None or n > best[0]:
            try:
                with open(p) as f:
                    doc = json.load(f)
                # the driver wraps bench.py's JSON line under "parsed"
                best = (n, doc.get("parsed") or doc)
            except (OSError, json.JSONDecodeError):
                continue
    if best is None:
        return None
    n, doc = best
    if "queries" not in doc:
        # The driver records only a stdout TAIL; when the JSON line
        # exceeds the tail window, "parsed" is null and the wrapper
        # doc has no per-query data — which silently emptied every
        # vs_prev table through r11. The per-round stamps artifact
        # (written below, un-truncatable) carries the same numbers:
        # reconstruct the prev doc from it. A failed reconstruction
        # must still return (n, {}) — returning None here would reset
        # main()'s round counter to 1 and clobber round-1 stamps. The
        # profile is carried so vs_prev_section can refuse an artifact
        # of the retired deployment profile.
        sp = os.path.join(root, f"BENCH_STAMPS_r{n:02d}.json")
        try:
            with open(sp) as f:
                stamps = json.load(f)
            doc = {
                "queries": {
                    name: s["sec"]
                    for name, s in stamps.get("query_stamps", {}).items()
                },
                "host_canary_ms_pre": stamps.get("host_canary_ms_pre"),
                "host_canary_ms_post": stamps.get("host_canary_ms_post"),
                "numeric_profile": stamps.get("numeric_profile", NUMERIC_PROFILE),
            }
        except (OSError, json.JSONDecodeError, KeyError, TypeError):
            doc = {}
    return n, doc


def vs_prev_section(
    timings: dict[str, float],
    canary_pre: float,
    canary_post: float,
) -> dict | None:
    """Canary-normalized round-over-round table (r6 verdict ask #2):
    this round's seconds are rescaled to the PREVIOUS artifact's host
    speed (``sec * prev_canary / this_canary`` — canary ms is
    inversely proportional to host speed), so a delta that survives
    normalization is a plan/engine change, not shared-VM weather.
    Rounds whose artifact predates the canary get raw deltas with an
    explicit note instead of silently wrong ones."""
    prev = _prev_round_artifact()
    if prev is None:
        return None
    n, pdoc = prev
    prev_profile = pdoc.get("numeric_profile", NUMERIC_PROFILE)
    if prev_profile != NUMERIC_PROFILE:
        # artifacts of the deleted deployment profile (double sums,
        # bucketed layouts) ran different plans — comparing them
        # reports phantom regressions
        return {
            "round": n,
            "note": (
                f"prev round's stamps are {prev_profile}-profile, this "
                f"run is {NUMERIC_PROFILE}: not comparable, no deltas"
            ),
            "queries": {},
        }
    pc = [
        v
        for v in (
            pdoc.get("host_canary_ms_pre"),
            pdoc.get("host_canary_ms_post"),
        )
        if v
    ]
    prev_canary = sum(pc) / len(pc) if pc else None
    this_canary = (canary_pre + canary_post) / 2
    scale = (prev_canary / this_canary) if prev_canary else None
    rows: dict[str, dict] = {}
    tot_this = tot_prev = 0.0
    for name, sec in timings.items():
        psec = (pdoc.get("queries") or {}).get(name)
        if psec is None:
            continue
        tot_this += sec
        tot_prev += psec
        row = {
            "prev_sec": psec,
            "raw_delta_pct": round(100 * (sec - psec) / psec, 1),
        }
        if scale:
            row["norm_delta_pct"] = round(
                100 * (sec * scale - psec) / psec, 1
            )
        rows[name] = row
    out = {
        "round": n,
        "prev_canary_ms": prev_canary,
        "canary_scale": round(scale, 4) if scale else None,
        "note": (
            "norm_delta_pct = (this_sec * prev_canary/this_canary - "
            "prev_sec) / prev_sec"
            if scale
            else f"BENCH_r{n:02d} predates the canary: raw deltas only"
        ),
        "queries": rows,
    }
    if tot_prev:
        out["total_raw_delta_pct"] = round(
            100 * (tot_this - tot_prev) / tot_prev, 1
        )
        if scale:
            out["total_norm_delta_pct"] = round(
                100 * (tot_this * scale - tot_prev) / tot_prev, 1
            )
    return out


def run_sweep(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, dict]]:
    """One full warm+stamped pass over the headline set. Factored out
    so --aa can run the IDENTICAL sweep twice back-to-back in one
    session (r12 verdict ask #1: an A/A double settles whether a
    round-over-round residual is reproducible within-session or
    host weather between sessions)."""
    from tools.benchproto import stamped_runs

    timings: dict[str, float] = {}
    stamps: dict[str, dict] = {}
    for name in HEADLINE:
        fn, _ = resolve(name)

        def run() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        run()  # warm
        # per-measurement canary stamp (tools/benchproto): a per-query
        # drift across rounds is adjudicated from the artifact itself
        # (host vs real) instead of from one artifact-wide canary pair
        stamps[name] = stamped_runs(run, n_runs=N_RUNS)
        timings[name] = stamps[name]["sec"]
        caching.release_all()  # bound cache growth across the sweep
    return timings, stamps


def main() -> None:
    aa_mode = "--aa" in sys.argv
    sf_dir = DEFAULT_SF_DIR
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    canary = host_canary_ms()
    io_canary_pre = io_canary_ms(sf_dir=sf_dir)
    # Same config as every production path (session.py): AQE on. It
    # costs ~0.2s/query in stage bookkeeping on scan-heavy queries at
    # this tiny scale but wins it back on the multi-stage ones
    # (partition coalescing after wide shuffles), and it's the
    # load-bearing setting at 100 TB — bench what you'd deploy.
    spark = get_spark("bench")

    timings, stamps = run_sweep(spark, sf_dir)
    aa_section = None
    if aa_mode:
        # Pass B: the identical sweep again, same session, same JVM.
        # A-vs-B deltas bound the within-session measurement noise on
        # THIS host right now — a cross-round residual smaller than
        # the A/A spread is weather by construction.
        timings_b, stamps_b = run_sweep(spark, sf_dir)
        rows = {}
        for name, a_sec in timings.items():
            b_sec = timings_b[name]
            rows[name] = {
                "a_sec": a_sec,
                "b_sec": b_sec,
                "delta_pct": round(100 * (b_sec - a_sec) / a_sec, 1),
            }
        tot_a = sum(timings.values())
        tot_b = sum(timings_b.values())
        aa_section = {
            "note": (
                "pass B = identical sweep rerun in the same session; "
                "delta_pct bounds within-session noise per query"
            ),
            "queries": rows,
            "total_a_sec": round(tot_a, 4),
            "total_b_sec": round(tot_b, 4),
            "total_delta_pct": round(100 * (tot_b - tot_a) / tot_a, 1),
            # per-query dicts copied: the aa_pass annotation below
            # mutates the top-level stamps in place, and a shallow
            # dict(stamps) would alias those entries (r13 ADVICE —
            # the archived A-set inherited aa_pass tags it never had)
            "query_stamps_a": {k: dict(v) for k, v in stamps.items()},
            "query_stamps_b": {k: dict(v) for k, v in stamps_b.items()},
        }
        # headline numbers report the per-query BEST of both passes
        # (the same best-of-N convention, N doubled). The winning
        # pass's STAMP travels with its number (r13 review fix:
        # "queries" and "query_stamps" must agree, or the
        # BENCH_STAMPS-based vs_prev reconstruction next round would
        # baseline against the losing pass's sec); `aa_pass` marks
        # provenance, and both passes' full stamp sets stay readable
        # under aa.query_stamps_a / aa.query_stamps_b.
        for name in timings:
            stamps[name]["aa_pass"] = "A"
            if timings_b[name] < timings[name]:
                timings[name] = timings_b[name]
                stamps[name] = dict(stamps_b[name], aa_pass="B")
    duck = duckdb_twin_times(sf_dir, HEADLINE)
    spark_paired = sum(t for n, t in timings.items() if duck.get(n) is not None)
    duck_total = sum(t for t in duck.values() if t is not None)
    post = host_canary_ms()
    io_post = io_canary_ms(sf_dir=sf_dir)
    # The printed line is the DRIVER CONTRACT and it is captured from a
    # truncation-prone stdout tail: r12's line grew past the tail window
    # (per-query stamp arrays), "parsed" came back null, and the driver
    # computed ZERO round-over-round data for r13 (PERF_r13 n_common=0).
    # r14 fix (VERDICT r13 ask #2): the line carries ONLY the driver
    # schema — queries as plain floats, duckdb/ratio, sf, canaries, and
    # the effective cpus/master (so the scaling block can see the env
    # var is honored). Everything bulky (per-run stamps, A/A passes,
    # the vs_prev table) lives exclusively in BENCH_STAMPS_r{N}.json,
    # which the driver cannot truncate.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "protocol": PROTOCOL_VERSION,
                "duckdb": duck,
                "duckdb_total": round(duck_total, 4),
                "ratio_vs_duckdb": (
                    round(spark_paired / duck_total, 4) if duck_total else None
                ),
                "numeric_profile": NUMERIC_PROFILE,
                "sf": float(sf),
                # effective parallelism, echoed so a low-core rerun is
                # self-describing ($SPARK_GRAFT_CPUS is honored via
                # session.get_spark; see also probe_cpu_scaling above)
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                # host-speed canary pre/post sweep: cross-round deltas
                # are only meaningful canary-normalized (shared-VM CPU
                # varies 3.5x/day, docs/SCALE.md)
                "host_canary_ms_pre": canary,
                "host_canary_ms_post": post,
                # IO/page-cache canary: the weather axis the CPU
                # kernel is blind to
                "io_canary_ms_pre": io_canary_pre,
                "io_canary_ms_post": io_post,
                "io_canary_budget_bytes": IO_CANARY_BUDGET,
            }
        )
    )
    # The driver records only a stdout TAIL of this process, and the
    # JSON line above can exceed the tail window — which is how r9's
    # per-query stamps went missing and the st05 drift had to be
    # re-adjudicated by hand (r9 verdict missing #5). Persist the
    # stamps to a per-round artifact the driver can't truncate, so any
    # future drift is settled from committed per-run canaries.
    prev = _prev_round_artifact()
    this_round = (prev[0] + 1) if prev else 1
    stamps_doc = {
        "round": this_round,
        "protocol": PROTOCOL_VERSION,
        "numeric_profile": NUMERIC_PROFILE,
        "sf": float(sf),
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "host_canary_ms_pre": canary,
        "host_canary_ms_post": post,
        "io_canary_ms_pre": io_canary_pre,
        "io_canary_ms_post": io_post,
        "io_canary_budget_bytes": IO_CANARY_BUDGET,
        "query_stamps": stamps,
        **({"aa": aa_section} if aa_section else {}),
        "duckdb": duck,
        # canary-normalized round-over-round table vs the latest
        # committed BENCH_r{N}.json — moved OUT of the printed line
        # (r14, VERDICT r13 ask #2: the line must survive tail capture;
        # this table is redundancy for the driver's own delta pass and
        # belongs with the rest of the bulky protocol evidence)
        "vs_prev": vs_prev_section(timings, canary, post),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_STAMPS_r{this_round:02d}.json",
    )
    with open(path, "w") as f:
        json.dump(stamps_doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
