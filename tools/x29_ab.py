"""x29 residual-spill A/B (r11 ask #6 / r12 ask #4).

SCALE_BENCH_sf100 measured x29 (substring_dup_stats) at 43.6 s with a
5.5 GB memory / 0.9 GB disk residual spill — the only spilling query
in the sweep. The documented explanation: the (h, doc_id) pair-count
aggregate's key is near-unique (k ~= 1), so the hash aggregate gets no
map-side reduction and overflows to the sort fallback. This experiment
A/Bs that plan against the single-aggregate identity plan
(extensions/text.py substring_dup_stats(plan=...)) at the same rung,
with full stage metrics (spill/shuffle bytes via the status API), and
writes X29_AB_sf100.json.

Usage: python tools/x29_ab.py [sf_dir] [--runs 2] [--json X29_AB_sf100.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_notifier_pipeline_spark import caching  # noqa: E402
from etl_notifier_pipeline_spark.catalog import load_table  # noqa: E402
from etl_notifier_pipeline_spark.extensions import text as X  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402
from tools.benchproto import (  # noqa: E402
    configure_io_canary,
    protocol_header,
    stamped_runs,
)
from tools.scale_bench import measured_run  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    n_runs = 2
    if "--runs" in args:
        i = args.index("--runs")
        n_runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/repo/.scale/sf100"
    configure_io_canary(sf_dir)  # probe what this run measures

    # measured_run reads stage metrics from the JVM status store, which
    # the engine session keeps with its UI disabled.
    spark = get_spark("x29-ab")
    variants = {
        "two_agg": lambda s, d: X.substring_dup_stats(
            load_table(s, d, "documents"), width=40, stride=20,
            plan="two_agg",
        ),
        "single_agg": lambda s, d: X.substring_dup_stats(
            load_table(s, d, "documents"), width=40, stride=20,
            plan="single_agg",
        ),
    }
    out: dict[str, dict] = {}
    for name, fn in variants.items():
        def one(fn=fn):
            wall, metrics = measured_run(spark, fn, sf_dir)
            caching.release_all()
            return wall, metrics

        one()  # warm (page cache + JIT), symmetric across variants
        out[name] = stamped_runs(one, n_runs=n_runs)
        print(f"{name}: {out[name]['sec']}s "
              f"spill mem={out[name].get('memoryBytesSpilled')} "
              f"disk={out[name].get('diskBytesSpilled')}", flush=True)
    doc = {
        "metric": "x29_plan_ab",
        "sf_dir": sf_dir,
        "protocol": protocol_header(n_runs, warmed=True),
        "variants": out,
    }
    print(json.dumps({k: {"sec": v["sec"]} for k, v in out.items()}))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
