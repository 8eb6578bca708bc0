"""Smoke test of the benchmark itself, at sf0.001 and tiny pipeline sizes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

- every workload in ``BENCHMARK.json`` runs once, traced, and prints
  every metric ``BENCHMARK.json`` names, with its unit;
- a corrupted expected hash and a tampered target table are both
  reported as failures.
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_prints_every_metric(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    printed = dict(re.findall(r"^\[perfbench\] (\S+) = \S+ (\S+)$", out.stderr, re.M))
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    assert {m["name"] for m in BENCH["per_layer"]} == set(result["metrics"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path[:0] = [ROOT, HERE]
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.prepare_env(work)
    session = run.start_session(2, work)
    yield session
    run.stop_jvm(session)


def test_corrupted_hash_is_a_failure(spark):
    from workloads import HeadlineQueries, Timer

    wl = HeadlineQueries(spark, random.Random(0), os.path.join(HERE, "fixture", "sf0.001"), Timer())
    wl.queries = ["q01_pricing_summary", "q05_revenue_by_nation"]
    wl.expected["q05_revenue_by_nation"]["hash"] = "0" * 32
    wl.warm()
    assert wl.attempted == 2
    assert wl.failed == ["q05_revenue_by_nation"]


def test_tampered_table_is_a_failure(spark, tmp_path):
    import run
    from model import Sizes
    from workloads import ApprovalPipeline, Timer

    wl = ApprovalPipeline(Sizes(**run.TINY_SIZES), spark, 5, str(tmp_path / "pipeline"), Timer())
    wl.setup(spark)
    wl.run_pass(0)
    assert wl.finish()["failed_events"] == {}
    store = wl.pipe.store
    t = next(e.table for e in wl.gen.events if e.kind == "insert")
    rows = store.read(t).collect()
    store.overwrite(t, spark.createDataFrame(rows[1:], store.read(t).schema))
    failed = wl.finish()["failed_events"]
    assert failed and all(v == f"table {t} differs from the model" for v in failed.values())
