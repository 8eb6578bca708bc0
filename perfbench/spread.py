"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--seconds S]

Runs ``run.py`` once per seed and workload, one after another, and
prints for each metric the median and the quartile distance as a share
of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound in ``BENCHMARK.json``. Writes the raw values to
``perfbench/.work/spread.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {}
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                print(out.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {s}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                raise SystemExit(f"{w} seed {s}: incorrect output {res}")
            for k, v in res["metrics"].items():
                values.setdefault(w, {}).setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for w, ms in values.items():
        for k, xs in ms.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{w:18s} {k:16s} median={med:10.4g} spread={(q3 - q1) / med:6.3f} "
                  f"bound={bounds[k]}")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "spread.json"), "w") as f:
        json.dump(values, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
