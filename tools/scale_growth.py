"""Sub-quadratic growth evidence for the dedup/ANN candidate generators.

The r4 verdict's scale ask, part (b): show the quadratic-trap operators'
cost growing ~linearly in CANDIDATE PAIRS as the corpus grows — the
pair count is the honest cost currency for LSH/SimHash/blocked dedup
(an all-pairs design would grow pairs R^2 x under R x amplification;
the banded designs must grow them ~R x, because tools/scale_up.py salts
near-dup structure per-replica).

Isolation protocol (r6): every (fixture, query) cell runs in its OWN
subprocess (``cell_command``: bench.py --runs 1 --no-warm --no-duck
--rows). The r5 ladder ran all 30 cells in one long-lived JVM and the
accumulated session state (never-released localCheckpoint blocks, shuffle-dir
writeback from prior cells, heap fragmentation) inflated the last
rung's walls up to 5x: d06 recorded 312 s at sf100 where an isolated
run at the same commit measures ~62 s with identical output rows and
3 label-prop rounds. One process per cell makes each number a
reproducible cold-start measurement — and carries bench.py's stage
metrics (shuffle/spill bytes, GC ms, peak heap, cluster rounds), so a
future superlinear step arrives with its diagnosis attached.

The subprocess heap defaults to SPARK_GRAFT_DRIVER_MEM or 48g: a
single local JVM holds the ENTIRE amplified dataset, so it gets a
box-sized heap the way a real deployment sizes executors by their data
share (8 g — the engine's default for sf0.1 work — forced 43 GB of
spill at 5 M docs and measured the allocator, not the algorithm).

Usage: python tools/scale_growth.py /root/testdata/sf0.1 \
           /root/repo/.scale/sf1 /root/repo/.scale/sf10 \
           [--json SCALE_GROWTH.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")

GROWTH_QUERIES = [
    "d04_minhash_lsh_pairs",   # banded MinHash candidate pairs
    "d07_simhash_pairs",       # multi-block SimHash match pairs
    "d06_dedup_clusters",      # connected components over the pair graph
    "s09_semantic_dedup",      # IVF-cell-blocked semantic survivors
    "d13_incremental_dedup",   # batch-vs-corpus banded increment
    "x29_substring_dup_fraction",  # stride-shingle self-similarity
]


def cell_command(sf_dir: str, query: str, json_out: str) -> list[str]:
    """The bench.py command line of one (fixture, query) cell."""
    return [
        sys.executable, BENCH, sf_dir, "--runs", "1", "--no-warm",
        "--no-duck", "--rows", "--json", json_out, query,
    ]


def run_cell(sf_dir: str, query: str) -> dict:
    """One (fixture, query) measurement in a fresh subprocess JVM."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
        proc = subprocess.run(
            cell_command(sf_dir, query, tmp.name),
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            timeout=3600,
        )
        if proc.returncode != 0:
            return {"sec": None, "rows": None, "err": f"exit {proc.returncode}"}
        with open(tmp.name) as f:
            doc = json.load(f)
    return doc["queries"][query]


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dirs = args or [
        "/root/testdata/sf0.1",
        "/root/repo/.scale/sf1",
        "/root/repo/.scale/sf10",
    ]
    out: dict[str, dict[str, dict]] = {}
    for sf_dir in sf_dirs:
        out[sf_dir] = {}
        for name in GROWTH_QUERIES:
            cell = run_cell(sf_dir, name)
            out[sf_dir][name] = cell
            print(
                f"{sf_dir} {name}: {cell.get('rows')} rows "
                f"in {cell.get('sec')}s",
                flush=True,
            )
            if json_out:  # partial results survive a crash
                with open(json_out, "w") as f:
                    json.dump(
                        {
                            "metric": "scale_growth",
                            "protocol": "one subprocess per cell, "
                            "cold, runs=1, 48g heap",
                            "results": out,
                        },
                        f, indent=1, sort_keys=True,
                    )
    doc = {
        "metric": "scale_growth",
        "protocol": "one subprocess per cell, cold, runs=1, 48g heap",
        "results": out,
    }
    print(json.dumps(doc))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
