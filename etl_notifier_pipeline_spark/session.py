"""SparkSession factory.

One place to encode the engine's execution-model decisions so every
entry point (tests, bench, driver harness) runs with the same plan-
shaping config:

- AQE on (runtime join-strategy switch, skew splitting, partition
  coalescing) — at 100 TB this is what turns a bad static plan into a
  survivable one.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden per-job (or left to AQE's coalescing with a high initial).
- Arrow on for every pandas interchange (the extension operators use
  Arrow-batched pandas UDFs, never row-at-a-time).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}

# Text/shingle operators amplify compressed parquet input ~10-20x in
# the sorter/aggregator (docs/SCALE.md "The spill levers, measured"),
# so a file split must be ~16x under the per-task memory share for the
# scan-stage partial aggregate to stay in memory on the worst plans.
_AMPLIFICATION_HEADROOM = 16


def _parse_mem_bytes(s: str) -> int:
    s = s.strip().lower()
    # Spark's JavaUtils.byteStringAsBytes accepts both one- and
    # two-letter suffixes ("8g" == "8gb") plus bare "b" for bytes —
    # accept the same set, since the value is passed verbatim to
    # spark.driver.memory and "8gb" was a working config before the
    # derivation existed.
    if s.endswith("b") and len(s) > 1 and s[-2] in _MEM_SUFFIX:
        s = s[:-1]
    if s.endswith("b"):
        return int(float(s[:-1]))
    if s and s[-1] in _MEM_SUFFIX:
        return int(float(s[:-1]) * _MEM_SUFFIX[s[-1]])
    # Spark's JVM-heap properties read a bare number as MiB
    # (spark.driver.memory "8192" == "8192m") — match that, or a
    # unitless value would derive byte-scale budgets and floor the
    # splits to 4m on a 128 GiB box.
    return int(float(s) * (1 << 20))


def derived_split_bytes(driver_mem: str, slots: int) -> tuple[int, int]:
    """Per-task split sizing from the configured memory and slot count
    (r11 ADVICE: the winning 16m/8m conf was measured on THIS host's
    8g/32-slot ~250 MB/task budget — hardcoding it would shrink every
    bigger deployment's tasks by the same host-specific ratio and
    multiply per-task fixed costs for nothing). The measured law, not
    the constant: split ~ mem_per_task / amplification. Returns
    (maxPartitionBytes, advisoryPartitionSizeInBytes); the advisory is
    half the split so AQE-coalesced reduce stages land under the same
    budget with the merge overhead of at most two map slices. Clamped
    to [4m, 128m] — below 4m task overhead dominates any plan, above
    128m (Spark's own default) bigger splits stop paying."""
    per_task = _parse_mem_bytes(driver_mem) // max(1, slots)
    split = per_task // _AMPLIFICATION_HEADROOM
    split = max(4 << 20, min(split, 128 << 20))
    return split, max(2 << 20, split // 2)


def runtime_conf(
    cpus: int | None = None, shuffle_partitions: int | None = None
) -> dict[str, str]:
    """The engine's runtime-settable SQL confs: ``get_spark`` builds its
    session with them, and ``__spark_entry__._ensure_session_conf`` sets
    them on a session the engine did not build, so both plan queries
    alike. ``cpus`` (the task slots) defaults to ``$SPARK_GRAFT_CPUS``
    then all cores; the shuffle width and split sizes follow it. Static
    confs (UI, codegen cache, driver memory) are builder-only and stay
    in ``get_spark``."""
    slots = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    split_bytes, advisory_bytes = derived_split_bytes(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"), slots
    )
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or slots),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Decouple shuffle width from local core count: start every
        # AQE-planned shuffle at 512 partitions and let coalescing fold
        # small ones back down. With the pre-r11 32-partition coupling,
        # corpus-sized shuffles overflowed the per-partition budget at
        # sf100 (x29 spilled 83 GB, d07 22 GB — SCALE_BENCH_sf100.json,
        # r10); 512 initial partitions cap per-partition shuffle input
        # at ~1/16th while AQE keeps small-query task counts flat.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
        # AQE partition coalescing is DISABLED inside cached plans by
        # default (canChangeCachedPlanOutputPartitioning=false), so any
        # tracked_persist whose frame sits on a shuffle materialized —
        # and served every downstream stage — at the FULL 512 initial
        # partitions: the r13 plan audit caught persisted-index
        # materializations running 512 single-row tasks at sf0.01, and
        # a groupBy-then-persist cost ~7x its uncached form at sf0.1
        # (q76 0.6 -> 4.2 s measured before this conf; 0.35 s after).
        # Allowing AQE to re-optimize cached plans keeps cache
        # partitioning advisory-sized at every scale; the documented
        # trade (the cache's output partitioning may no longer match a
        # downstream requirement, adding back an exchange) is the
        # lesser cost — the frames we persist are consumed by
        # aggregates/joins that AQE replans anyway.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE convert a join to broadcast from RUNTIME-measured
        # sizes well past the static 10m threshold: a filtered dim
        # whose pre-filter stats look huge (q05's date-filtered orders
        # at sf10: ~60 MB actual, 3x q05 speedup measured) broadcasts
        # once its shuffle output proves small. Runtime-measured, so
        # unlike raising the static threshold it can't OOM on a bad
        # estimate; 128m is well inside executor budgets at any scale.
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "128m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Parquet TIMESTAMP(NANOS) has no Spark type: read such a
        # column as long instead of failing the scan. No fixture has
        # one; their timestamps are all MICROS (catalog.SCHEMAS).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # isAdjustedToUTC=false parquet timestamps otherwise surface as
        # TIMESTAMP_NTZ, which strict chrono builtins reject; with the
        # session tz pinned UTC the instant semantics are identical.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # List a read's root paths on the driver up to 1024 paths
        # (Spark's default launches a listing job above 32). A 64-bucket
        # BucketedTableStore read passes 65+ paths; building one such
        # read on local[2] (4-core host) cost 0.53 s wall / 1.2-1.5 s
        # CPU with the listing job, 0.05 s / 0.08-0.16 s listed
        # serially. Catalog reads pass one file per table, under 32.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        # Per-task DATA budget, both sides of the shuffle — the r11
        # spill diagnosis (docs/SCALE.md "The spill levers, measured"):
        # initialPartitionNum alone halved x29's sf100 spill but left
        # 41 GB, because the spilling stages are (a) the scan-stage
        # partial aggregate (file-split-sized) and (b) AQE-COALESCED
        # reduce stages (advisory-sized) — amplifying operators
        # overflow the per-task execution share unless the split sits
        # ~amplification-factor under it. Sizing both knobs that way
        # killed the spill AND the wall (x29 66.8 -> 44.5 s, d07 spill
        # 17 GB -> 0) with zero movement at sf0.1 (A/B'd same-hour:
        # 13.11 vs 13.23 s). The sizes DERIVE from the configured
        # memory and slot count (derived_split_bytes — 16m/8m on this
        # 8g/32-slot host, the measured winning point), so a bigger
        # deployment's tasks scale up with its per-task memory instead
        # of inheriting this host's constants and multiplying per-task
        # fixed costs ~7x on dense whole-corpus passes.
        "spark.sql.files.maxPartitionBytes": str(split_bytes),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory_bytes),
    }


def get_spark(
    app_name: str = "etl_notifier_pipeline_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then all cores. On a real
    cluster, drop the ``master`` call and submit with your own resource
    config — everything else carries over.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        # Keep every generated class of a repeated plan compiled. The
        # default cache holds 100 classes; one headline sweep generates
        # about 280 and one approval micro-batch 220-257 (4-core host,
        # local[2]), so each repeat recompiled them all (Janino on the
        # driver, then the JIT). 1000 is about 3x the largest working
        # set. Static and sized once per JVM by the first session: it
        # cannot go through spark.conf.set on a running session.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = {**runtime_conf(cpus, shuffle_partitions), **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
