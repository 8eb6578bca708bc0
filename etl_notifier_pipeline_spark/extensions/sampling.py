"""Dataset splitting / sampling operators for training pipelines.

A training corpus needs reproducible splits: the split must be a pure
function of a stable row key — never ``rand()`` (re-runs, retries, and
added data would reshuffle rows across splits, leaking val/test into
train). The engine derives the split from the same engine-portable
md5-prefix hash as the dedup operators, so assignments are identical
across engines (DuckDB-oracle-checkable) and across runs, and adding
new rows never moves an existing row's split.

Spark's built-ins (``randomSplit``, ``sampleBy``) are seed-stable only
per partitioning — a repartition changes the sample. Hash-based
assignment has no such coupling: it is row-local, shuffle-free, and
embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.extensions.text import token_hash
from etl_notifier_pipeline_spark.operators.prefix import prefix_sum


def split_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from a stable key."""
    return token_hash(key.cast("string")) % n_buckets


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight: Column,
    *,
    resolution: int = 256,
    salt: str = ":ws",
) -> DataFrame:
    """Keep each row with probability ``min(1, weight/resolution)``,
    decided by a salted hash of the key — deterministic (retries and
    incremental data never flip prior decisions), row-local, zero
    shuffle. ``weight`` must be an integer-valued Column (the compare
    is pure integer arithmetic, bit-exact cross-engine); rows with
    weight >= resolution are always kept.

    Adds ``sample_key`` (the hash residue) for audit."""
    key = token_hash(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return df.withColumn("sample_key", key % resolution).filter(
        F.col("sample_key") < F.least(F.lit(resolution), weight)
    )


def stratified_split(
    df: DataFrame,
    key_col: str,
    *,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign train/val/test by hash bucket of the key column.

    Percentages are integer bucket counts out of 100 (exact, no float
    thresholds); the remainder is test. Pure projection — zero shuffle.
    """
    b = split_bucket(F.col(key_col))
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def shard_assignment(
    df: DataFrame, key_col: str, n_shards: int = 64, salt: str = ":shard"
) -> DataFrame:
    """Deterministic output-shard assignment: shard = md5-hash(key +
    salt) % n_shards — the write-layout step of a training-data
    pipeline (stable across retries/partitioning, unlike rand() or
    monotonically_increasing_id; adding docs never moves old ones).

    ``salt`` decorrelates the shard lattice from the OTHER hash-keyed
    decisions on the same key (split_bucket's train/test split,
    mixture_resample) — without it every op would consult the same
    ``H(key) % n`` value and compose as min(), not independently
    (weighted_sample's ':ws' salt exists for the same reason).

    Scale shape: a pure projection (no shuffle); the subsequent
    ``.repartition(n_shards, "shard_id")`` or partitionBy write is
    where the one unavoidable exchange happens, carrying data exactly
    once.
    """
    h = token_hash(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return df.withColumn("shard_id", h % n_shards)


def mixture_resample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    n_buckets: int = 10_000,
    salt: str = ":mix",
) -> DataFrame:
    """Per-source mixture resampling: keep each row iff its
    deterministic hash bucket falls under its source's acceptance rate
    — the up/down-weighting knob a pretraining pipeline uses to hit a
    target corpus mixture (e.g. downsample crawl, keep all reference
    text). Rates are fractions in [0, 1]; rate 1.0 keeps everything.

    rand()-free and keyed on ``key_col``: the same row is kept or
    dropped identically across retries, partitionings, and corpus
    growth (supersets keep supersets); raising a rate only ADDS rows,
    never swaps them — so mixture tuning is an incremental re-read,
    not a reshuffle of what was already sampled.

    ``salt`` decorrelates this pass from other hash-keyed decisions on
    the same key (see shard_assignment) so chained sampling passes
    compose with rate r1*r2, not min(r1, r2).

    Scale shape: pure projection + filter (the rate map compiles to a
    CASE chain of INTEGER bucket thresholds — computed driver-side
    with round(), so non-dyadic rates like 0.7 keep exactly
    round(0.7*n_buckets) buckets instead of being bitten by double
    truncation); no shuffle at all.
    """
    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    threshold = F.lit(int(round(default_rate * n_buckets)))
    for s, r in sorted(rates.items()):
        threshold = F.when(
            F.col(source_col) == s, F.lit(int(round(r * n_buckets)))
        ).otherwise(threshold)
    bucket = split_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit(salt)), n_buckets
    )
    return df.filter(bucket < threshold)


def block_pack_spans(
    df: DataFrame,
    key_col: str,
    n_tokens_col: str,
    *,
    block: int = 4096,
    group_size: int = 1024,
) -> DataFrame:
    """Concatenate documents into one global token stream (in key
    order) and cut the stream into fixed ``block``-token training
    blocks — the GPT-style pretraining packing where documents cross
    block boundaries. Emits one row per (doc, block) span:

    - ``block_id``          which block the span lands in
    - ``offset_in_block``   where the span starts inside the block
    - ``doc_offset``        where the span starts inside the document
    - ``tokens_in_block``   span length (every block sums to exactly
      ``block`` tokens except the last)

    This differs from greedy bin packing (``x11``): nothing is padded
    and nothing is truncated — a document contributes spans to every
    block it overlaps, so token conservation is exact.

    Scale shape: the global prefix sum is ``operators.prefix.prefix_sum``
    over contiguous key ranges (``group = key // group_size``), so no
    window sorts the corpus in one partition; the groups frame is
    |keys|/group_size rows long (~1.5 M narrow rows at 100 B docs with
    group_size 64 Ki). Span explosion is a JVM-side sequence/slice
    generator — no Python. Zero-token documents contribute no span,
    matching concatenation semantics.
    """
    if block <= 0 or group_size <= 0:
        raise ValueError("block and group_size must be positive")
    key, n = F.col(key_col), F.col(n_tokens_col).cast("long")
    base = df.select(key.alias("__key"), n.alias("__n")).filter(
        F.col("__n") > 0
    )
    grouped = base.withColumn("__g", F.expr(f"__key div {group_size}"))
    started = prefix_sum(
        grouped, "__g", F.col("__n"), ["__key"], alias="__cum"
    ).select("__key", "__n", (F.col("__cum") - F.col("__n")).alias("__start"))
    # Non-negative starts: integer-division truncation == floor on both
    # engines (DuckDB `//` truncates toward zero; values here are >= 0).
    # `div` keeps the arithmetic in exact int64 — a double division
    # would silently lose token positions past 2^53.
    first_blk = F.expr(f"__start div {block}")
    last_blk = F.expr(f"(__start + __n - 1) div {block}")
    exploded = started.select(
        "__key",
        "__n",
        "__start",
        F.explode(F.sequence(first_blk, last_blk)).alias("block_id"),
    )
    blk_lo = F.col("block_id") * block
    lo = F.greatest(F.col("__start"), blk_lo)
    hi = F.least(F.col("__start") + F.col("__n"), blk_lo + block)
    return exploded.select(
        F.col("__key").alias(key_col),
        F.col("block_id").cast("long").alias("block_id"),
        (lo - blk_lo).cast("long").alias("offset_in_block"),
        (lo - F.col("__start")).cast("long").alias("doc_offset"),
        (hi - lo).cast("long").alias("tokens_in_block"),
    )


def ordered_prefix_sum(
    df: DataFrame,
    sum_col: str,
    order_exprs: list[Column],
    *,
    alias: str = "cum",
    n_buckets: int = 64,
) -> DataFrame:
    """Exact running sum over a TOTAL order (e.g. q80's ``revenue DESC,
    partkey``) with no single-partition window: ``repartitionByRange``
    samples split points, so its partitions are contiguous, size-
    balanced ranges of the order even under value skew; the partition
    id is the part of ``operators.prefix.prefix_sum``.

    The bucketed frame is persisted (tracked): its bucket ids come from
    sampled range boundaries, and the totals leg and the output leg
    must observe the SAME assignment.
    """
    from etl_notifier_pipeline_spark.caching import tracked_persist

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    bucketed = tracked_persist(
        df.repartitionByRange(n_buckets, *order_exprs).withColumn(
            "__b", F.spark_partition_id()
        )
    )
    cum = prefix_sum(bucketed, "__b", F.col(sum_col), order_exprs, alias=alias)
    return cum.drop("__b")


def per_source_cap(
    df: DataFrame,
    source_col: str,
    key_col: str,
    cap: int,
    salt: str = ":cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per source/domain — the crawl-pipeline
    guard against any single site dominating the corpus. Selection is
    by salted-hash order (tie-broken on the key), NOT arrival order:
    deterministic across retries and partitionings, unbiased within a
    source, and re-runs on a grown corpus keep a stable (hash-lowest)
    subset rather than whatever happened to arrive first. Adds
    ``cap_rank`` (1-based position in the source's hash order).

    Scale shape: a rank-predicate window. Spark plans ``row_number
    <= k`` as WindowGroupLimit with a PARTIAL pass before the shuffle:
    each input partition forwards only its own top-``cap`` rows per
    source, so a hot domain with 10^9 pages ships O(cap x partitions)
    rows, not 10^9 — per-domain skew is absorbed map-side, no salting
    needed. The ``salt`` decorrelates this decision from the other
    hash-keyed lattices on the same key (split/shard/mixture).
    """
    from pyspark.sql import Window as W

    if cap <= 0:
        raise ValueError("cap must be positive")
    h = token_hash(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    rank = F.row_number().over(
        W.partitionBy(source_col).orderBy(h.asc(), F.col(key_col).asc())
    )
    return (
        df.withColumn("cap_rank", rank)
        .filter(F.col("cap_rank") <= cap)
        .withColumn("cap_rank", F.col("cap_rank").cast("long"))
    )


def temperature_mixture(
    df: DataFrame,
    source_col: str,
    key_col: str,
    *,
    alpha_sqrt: bool = True,
    keep_fraction_num: int = 1,
    keep_fraction_den: int = 2,
    resolution: int = 256,
    salt: str = ":temp",
) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-balancing
    resample: p_s proportional to n_s^alpha, alpha=0.5): derive each
    source's keep-weight from the corpus itself, then keep rows by the
    deterministic hash lattice. target_total = corpus * num/den.

    Determinism: the only cross-source float reduction (the n^alpha
    normalizer) is a SEQUENTIAL fold over the source list sorted by
    name — the cosine-fold doctrine — so the weight table is bit-equal
    on any partitioning and in the SQL oracle; everything after is the
    integer hash-threshold compare of ``weighted_sample``.

    Scale shape: the weight table is |sources| rows (broadcast); the
    corpus passes once through a row-local filter. Changing alpha or
    the target only moves thresholds — prior keep decisions for
    unaffected rows never flip (monotone, like x21)."""
    if not alpha_sqrt:
        raise ValueError("only alpha=0.5 (sqrt) is wired; extend as needed")
    from etl_notifier_pipeline_spark.caching import tracked_persist

    # |sources|-sized; persisted because BOTH the normalizer fold and
    # the weight join consume it — unpersisted, each re-ran the corpus
    # scan + per-source count (r13 plan-audit fix: x33 measured at 3
    # documents scans, now 2 — weight derivation + the keep pass, the
    # irreducible two passes of any data-derived resample).
    src = tracked_persist(
        df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    )
    z_df = src.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(source_col), F.col("__n")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["__n"].cast("double")),
        ).alias("__z"),
        F.sum("__n").alias("__total"),
    )
    wt = F.floor(
        F.lit(float(resolution))
        * (
            F.lit(keep_fraction_num / keep_fraction_den)
            * F.col("__total").cast("double")
        )
        * (F.sqrt(F.col("__n").cast("double")) / F.col("__z"))
        / F.col("__n").cast("double")
    ).cast("long")
    weights = (
        src.join(F.broadcast(z_df))
        .select(source_col, F.col("__n").alias("n_source"), wt.alias("wt"))
    )
    out = df.join(F.broadcast(weights), source_col)
    return weighted_sample(
        out, key_col, F.col("wt"), resolution=resolution, salt=salt
    )
