"""Per-layer split of committed traced runs, with the tracing overhead.

    python3 perfbench/summarize.py WORKLOAD:UNTRACED.json:TRACED.json ...

Each argument names a workload and the reports of one untraced and one
traced run of it with the same seed, as ``run.py`` writes them to
``perfbench/.work/reports/<workload>-s<seed>-t<0|1>.json``. Writes
``perfbench/results/<workload>.json`` (both reports without spans, the
overhead, the split) and ``perfbench/results/SPLIT.md``.

The split is self time per layer per timed pass: a span's duration
minus its child spans. Inclusive shares of the pass wall are also given
for the calls the layer-split claims name.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
INCLUSIVE = (
    "storage.apply_keyed_mutation",
    "ledger.record_arrivals",
    "ledger.filter_unprocessed",
    "ledger.mark_many",
    "ledger.queue_deletes",
    "ledger.drain_deletes",
    "sources.ingest.read_csv",
    "catalog.load_table",
)


def inclusive_shares(report: dict) -> dict:
    """Share of the timed passes' wall inside each named call, counting
    only outermost spans of that name (a call nested in another call of
    the same layer is inside its parent's share already)."""
    spans = report["spans"]
    passes = [s for s in spans if s["name"] == "bench.pass"]
    wall = sum(s["end"] - s["start"] for s in passes)
    by_id = {s["id"]: s for s in spans}
    in_pass = {s["id"] for p in passes for s in spans if p["start"] <= s["start"] and s["end"] <= p["end"]}

    def has_ancestor(s, prefix):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"].startswith(prefix):
                return True
            p = by_id[p]["parent"]
        return False

    out = {}
    for name in INCLUSIVE:
        t = sum(s["end"] - s["start"] for s in spans
                if s["id"] in in_pass and s["name"] == name and not has_ancestor(s, name))
        out[name] = t / wall
    out["ledger.*"] = sum(
        s["end"] - s["start"] for s in spans
        if s["id"] in in_pass and s["name"].startswith("ledger.") and not has_ancestor(s, "ledger.")
    ) / wall
    return out


def main(specs: list[str]) -> None:
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    lines = [
        "# Per-layer split of the traced runs",
        "",
        "Self time per timed pass, by layer (share of the traced pass wall),",
        "and the inclusive share of the pass wall inside the named calls.",
        "Overhead is the traced pass over the untraced pass of the same seed,",
        "in wall time and in CPU time (`pass_cpu_s`).",
        "",
    ]
    for spec in specs:
        workload, plain_path, traced_path = spec.split(":")
        with open(plain_path) as f:
            plain = json.load(f)
        with open(traced_path) as f:
            traced = json.load(f)
        shares = inclusive_shares(traced)
        pass_wall = traced["detail"]["pass_wall_s"]
        overhead = pass_wall / plain["detail"]["pass_wall_s"] - 1
        overhead_cpu = traced["end_to_end"]["pass_cpu_s"] / plain["end_to_end"]["pass_cpu_s"] - 1
        split = traced["layer_self_s_per_pass"]
        summary = {
            "workload": workload,
            "tracing_overhead_pass_wall_s": overhead,
            "tracing_overhead_pass_cpu_s": overhead_cpu,
            "untraced": {k: v for k, v in plain.items() if k != "spans"},
            "traced": {k: v for k, v in traced.items() if k != "spans"},
            "inclusive_share_of_pass": shares,
        }
        with open(os.path.join(HERE, "results", f"{workload}.json"), "w") as f:
            json.dump(summary, f, indent=1, default=str)
            f.write("\n")
        prov = traced["provenance"]
        lines += [
            f"## {workload}",
            "",
            f"- host `{prov['host']}`, nproc {prov['nproc']}, master `{prov['spark_master']}`,"
            f" fixture `{prov['fixture']}`, commit `{prov['commit'][:12]}`, seed {prov['seed']}",
            f"- sizes: {json.dumps(prov['sizes'])}",
            f"- timed passes: {len(traced['samples']['passes'])} traced,"
            f" {len(plain['samples']['passes'])} untraced; pass wall"
            f" {plain['detail']['pass_wall_s']:.2f} s untraced,"
            f" {pass_wall:.2f} s traced (overhead {100 * overhead:+.1f}%); pass CPU"
            f" {plain['end_to_end']['pass_cpu_s']:.2f} s untraced,"
            f" {traced['end_to_end']['pass_cpu_s']:.2f} s traced"
            f" (overhead {100 * overhead_cpu:+.1f}%)",
            "",
            "| layer | self s / pass | share |",
            "|---|---|---|",
        ]
        for lay, s in sorted(split.items(), key=lambda kv: -kv[1]):
            lines.append(f"| {lay} | {s:.3f} | {100 * s / pass_wall:.1f}% |")
        lines += ["", "| calls (inclusive) | share of pass |", "|---|---|"]
        for name, sh in shares.items():
            lines.append(f"| {name} | {100 * sh:.1f}% |")
        calls = {k: v["value"] for k, v in traced["per_layer"].items()
                 if k.endswith("_calls")}
        lines += ["", f"Calls per pass: {json.dumps(calls)}", ""]
    with open(os.path.join(HERE, "results", "SPLIT.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1:])
