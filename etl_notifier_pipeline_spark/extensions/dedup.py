"""Deduplication operators (SURVEY §2.10 X1): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Design for 100 TB:

- exact dedup: one hash-shuffle on the content hash (not the content —
  group on md5 so the shuffle carries 32 bytes per row, not documents).
- n-gram Jaccard: shingle -> inverted index (doc, shingle) -> self-join
  on shingle to generate candidate pairs -> exact verify. Hot shingles
  are the skew risk; ``max_doc_freq`` drops ultra-frequent shingles
  (stop-shingles) the way web-dedup pipelines do.
- MinHash+LSH: per-doc signature of K permutation-minima computed in
  one narrow pass (HOF fold, no shuffle, no Python); signatures banded
  into B buckets; candidate pairs = docs sharing a band bucket (shuffle
  on the tiny bucket id); then exact Jaccard verify on candidates only.
  At 100 TB only the O(n·K) signature pass touches full text.
- SimHash: per-doc 32-bit signature as a weighted bit majority — one
  narrow pass; band the signature for candidates the same way.

All hashing derives from the engine-portable md5-prefix token hash
(extensions.text.token_hash), so every operator here — including the
LSH candidate sets — stays DuckDB-oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from etl_notifier_pipeline_spark.caching import tracked_persist
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.extensions.text import (
    HASH_MOD,
    token_hash,
    tokens,
)

# MinHash permutation family h_i(x) = (A[i]*x + B[i]) mod HASH_MOD —
# x < HASH_MOD (< 2^30) and A[i] < HASH_MOD keep A*x < 2^60 inside
# int64 on both engines. Frozen from a seeded PRNG (seed 42).
MINHASH_A = (
    89250949, 654571477, 438878412, 433015208, 858597865, 85945634,
    697367985, 201469523, 94177342, 526478946, 975622290, 735752324,
    761139654, 786064255, 513226541, 128113625,
)
MINHASH_B = (
    839748176, 450385909, 500351883, 370798000, 182549625, 926764930,
    781567406, 643865079, 402414338, 822761561, 545429084, 443414170,
    227238707, 92135908, 887889787, 63817251,
)
N_HASHES = len(MINHASH_A)
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
# 64-bit SimHash (Manku et al.), 4 bands x 16 bits = 65k buckets per
# band. Two prior widths were measured into retirement: 32 bits over
# the MOD-REDUCED token hash (bits >= ~30 degenerate, top band ~64
# effective buckets, ~2B candidates / 900s at 500k docs), then 60
# bits / 15-bit bands (linear to 500k docs, but ~46 docs per bucket
# at 1.5M docs stepped d07 11x for 3x data). Candidates scale
# ~n^2/2^width per band — width must lead corpus growth. Bits 0-59
# come from the first md5 half, 60-63 from the second; md5 runs ONCE
# per token and both halves are plain substrings of it.
SIMHASH_BITS = 64

# Diagnostics from the most recent clustering call in this process:
# {"algorithm": str, "rounds": int, "fell_back": bool}. Written by
# dedup_clusters / two_phase_components so scale harnesses can record
# WHY a run cost what it did (label-prop round count is the first
# question when wall time steps superlinearly).
LAST_CLUSTER_STATS: dict = {}


def minhash_family(
    n_hashes: int = N_HASHES, seed: int = 42
) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """Deterministic (A, B) permutation family of any size — a 100 TB
    corpus retune (more hashes / different banding) is a config change,
    not new frozen constants. At the default (16, 42) this returns the
    FROZEN module constants (which predate this generator and are what
    every oracle encodes), so all parameter paths agree; other sizes/
    seeds come from ``random.Random`` (seed-stable across Python
    versions). A >= 1 keeps the map non-degenerate; both coefficients
    stay < HASH_MOD for int64-safe ``A*x + B``."""
    if (n_hashes, seed) == (N_HASHES, 42):
        return MINHASH_A, MINHASH_B
    import random

    rng = random.Random(seed)
    a = tuple(rng.randrange(1, HASH_MOD) for _ in range(n_hashes))
    b = tuple(rng.randrange(0, HASH_MOD) for _ in range(n_hashes))
    return a, b


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: one row per distinct text with the
    representative (min doc_id) and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array.

    Built from ``n`` aligned slices of the token array combined with
    ``zip_with`` — NOT ``transform(sequence(...), i ->
    element_at(toks, i+j))``: a lambda that captures the tokenizer
    output as an outer expression re-evaluates the split PER ELEMENT
    (O(tokens^2) per row, interpreted); slices evaluate it ``n`` times
    per row total. Docs shorter than ``n`` tokens yield an EMPTY array
    (slice length clamped at 0), matching DuckDB's empty
    ``range(1, 0)`` for oracle parity."""
    toks = tokens(col)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, k + 1, count) for k in range(n)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat_ws(" ", a, b))
    return g


def hashed_shingle_sets(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, hsh) where hsh = distinct md5-hashed shingles.

    The one expensive pass over text (md5 per shingle) — every dedup
    operator downstream (signature, LSH verify) derives from this frame
    so the hash pipeline runs once; callers persist it when they fan
    out into multiple branches."""
    return df.select(
        "doc_id",
        F.array_distinct(F.transform(shingles(text_col, n), token_hash)).alias("hsh"),
    )


def shingle_index(
    df: DataFrame, text_col: str = "text", n: int = 3, max_doc_freq: int | None = None
) -> DataFrame:
    """Inverted index (doc_id, shingle-hash), distinct per doc.
    Optionally drops shingles appearing in more than ``max_doc_freq``
    docs — the skew guard for the candidate join. Hashed (8-byte)
    shingles keep the shuffle narrow; Jaccard over hashed sets equals
    string Jaccard up to md5-collision probability (~n²/2^60), and the
    oracles hash identically so the check stays exact."""
    idx = hashed_shingle_sets(df, text_col, n).select(
        "doc_id", F.explode("hsh").alias("shingle")
    )
    if max_doc_freq is not None:
        freq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        idx = (
            idx.join(freq.filter(F.col("df") <= max_doc_freq), "shingle", "left_semi")
        )
    return idx


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.

    Candidate generation via the inverted-index self-join (pairs
    sharing >= 1 shingle), then |A∩B| from the join count and
    |A∪B| = |A|+|B|-|A∩B|. Jaccard is an int/int division in double,
    so bit-exact across engines.

    The index is persisted (the d04 persisted-shingle-frame rule):
    THREE consumers — both self-join legs and the per-doc size
    aggregate — would otherwise each re-scan the corpus and re-run
    the md5 shingling; with the persist the corpus materializes once
    instead of once per consumer (measured at sf0.1, warm best-of-3
    including the materialization: 5.04 s → 4.00 s; at 100 TB the
    shingling pass is the dominant cost, so the gap widens with
    corpus size)."""
    idx = tracked_persist(shingle_index(df, text_col, n, max_doc_freq))
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """MinHash signature: mh_i = min over shingles of (A_i*h + B_i) mod P.

    One narrow pass per document — the shingle array never leaves the
    row, no explode, no shuffle. Empty shingle sets yield NULL minima.
    """
    return minhash_signature_from_sets(hashed_shingle_sets(df, text_col, n))


def minhash_signature_from_sets(
    hs: DataFrame,
    family: tuple[tuple[int, ...], tuple[int, ...]] = (MINHASH_A, MINHASH_B),
) -> DataFrame:
    """Signature from precomputed hashed-shingle sets: explode to rows,
    then 16 min-aggregates over the cheap (a*h+b) mod P arithmetic.
    (Computing 16 array_min columns over a shared transform looks
    equivalent but is 16x slower — CollapseProject inlines the md5
    pipeline into every column.) Map-side partial min keeps the shuffle
    at one row per (doc, 16 minima). min over distinct hashes equals
    min over raw hashes, so array_distinct upstream is value-neutral."""
    exploded = hs.select("doc_id", F.explode_outer("hsh").alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_MOD).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(*family))
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band the signature: (doc_id, band_idx, band_key) — band_key is
    the concatenated minima of the band's rows. Signature width is
    inferred from the ``mh_*`` columns; it must divide into
    ``n_bands``."""
    n_hashes = sum(c.startswith("mh_") for c in sig.columns)
    if n_hashes % n_bands:
        raise ValueError(f"{n_hashes} hashes do not band evenly into {n_bands}")
    rows_per_band = n_hashes // n_bands
    bands = []
    for bi in range(n_bands):
        key = F.concat_ws(
            "_", *[F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]
        )
        bands.append(F.struct(F.lit(bi).alias("band_idx"), key.alias("band_key")))
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")


def lsh_candidate_pairs(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket.

    The join key is (band_idx, band_key) — a few bytes — so at scale
    this shuffles signatures, never documents.

    Width note (why this generator needs no corpus-adaptive plan,
    unlike ``simhash_pairs``): a band key concatenates 4 MinHash
    minima, each ~uniform on [0, 2^30) — a ~2^120 key space. Random
    band collisions are ~n²/2^120: vanishing at any achievable corpus
    size, so candidates come only from genuinely similar docs (P ≈
    jaccard^rows_per_band per band) and grow with the true near-dup
    rate, which fixture amplification keeps linear (measured through
    5 M docs: pair counts exactly linear, SCALE_GROWTH.json). SimHash
    needed the multi-block rewrite because its band keys are SLICES of
    a fixed 64-bit signature — a 2^16 space that saturates.

    The band frame is deliberately NOT persisted, unlike d03's
    shingle index and simhash_pairs' band frame: measured at sf0.1
    (warm best-of-3) the persist made this SLOWER, 1.45 s → 1.89 s —
    the upstream hashed-shingle frame is already cached
    (minhash_lsh_dedup), so each leg's recomputation is only the
    cheap map-side-combined 16-min aggregate over cached rows, while
    the persist pays materialization and breaks the codegen pipeline
    into the join."""
    b = lsh_bands(sig, n_bands)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def pair_jaccard(hs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for a given pair set only: join each side's
    hashed-shingle set and intersect in-row (``array_intersect``) —
    O(|pairs|), never the all-pairs shingle self-join."""
    a = hs.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("sh_a"))
    b = hs.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            n_inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_inter),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    *,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature -> bands ->
    candidates -> exact Jaccard verify >= threshold.

    Only candidate pairs are verified (pair_jaccard) — the whole point
    of LSH at scale: the exact all-pairs join never runs. The hashed-
    shingle sets are computed once and persisted across the three uses
    (signature + both verify sides), so text is md5-hashed exactly
    once. (On a cluster the persist maps to a checkpoint/staging table
    of (doc_id, int64[]) — tiny next to the corpus.)"""
    family = minhash_family(n_hashes, seed)
    hs = tracked_persist(hashed_shingle_sets(df, text_col, n))
    cand = lsh_candidate_pairs(minhash_signature_from_sets(hs, family), n_bands)
    return pair_jaccard(hs, cand).filter(F.col("jaccard") >= threshold)


def incremental_lsh_dedup(
    hist: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    *,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    seed: int = 42,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without re-pairing
    the corpus with itself — the corpus-update operator: per batch doc,
    how many historical near-dups it has and whether it is novel.

    Candidates come from a band-key equi-join of the batch's LSH bands
    against the historical bands — |batch| signature rows shuffle, the
    historical side joins on narrow (band_idx, band_key) keys, and no
    hist×hist or batch×batch pair is ever generated. At 100 TB the
    historical band frame is the precomputed, bucketed-by-band-key
    index a real pipeline maintains incrementally; each increment pays
    one shingle/signature pass over the BATCH only (the whole point:
    cost scales with the increment, not the corpus). Candidates are
    verified with exact n-gram Jaccard (pair_jaccard) and reduced to a
    per-batch-doc verdict; the best match ranks by (jaccard desc,
    hist doc_id asc) via a struct max, deterministic on both engines.

    Returns (doc_id, n_matches, best_match_id, best_jaccard, is_novel)
    with one row per batch document.

    Precondition: ``hist`` and ``batch`` doc_ids must be DISJOINT — a
    doc present on both sides would match itself (jaccard 1.0) and be
    marked non-novel, and its duplicated shingle rows would fan out
    the verify join. Enforced here with an anti-join that drops any
    hist row whose doc_id reappears in the batch (the batch side wins:
    re-submitting a known doc means re-verdicting it against the REST
    of the corpus). The anti-join is a broadcast-able semi-structure
    on the narrow key column, so the guard costs one pass over hist
    keys, not a shuffle of the corpus.
    """
    hist = hist.join(batch.select("doc_id"), "doc_id", "left_anti")
    family = minhash_family(n_hashes, seed)
    # Both shingle frames persist: each feeds its band leg AND the
    # pair-verify union, and the md5 pipeline is the expensive pass
    # (measured at 500k docs: the unpersisted hist side re-hashed 6/7
    # of the corpus and doubled d13's wall time). On a cluster the
    # hist side is the precomputed band/shingle index a real pipeline
    # maintains; the persist is the local stand-in.
    hs_hist = tracked_persist(hashed_shingle_sets(hist, text_col, n))
    hs_batch = tracked_persist(hashed_shingle_sets(batch, text_col, n))
    bands_h = lsh_bands(minhash_signature_from_sets(hs_hist, family), n_bands)
    bands_b = lsh_bands(minhash_signature_from_sets(hs_batch, family), n_bands)
    cand = (
        bands_b.alias("b")
        .join(
            bands_h.alias("h"),
            (F.col("b.band_idx") == F.col("h.band_idx"))
            & (F.col("b.band_key") == F.col("h.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("doc_a"), F.col("h.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    matches = (
        pair_jaccard(hs_batch.unionByName(hs_hist), cand)
        .filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max(
                F.struct(
                    F.col("jaccard").alias("j"),
                    (-F.col("doc_b")).alias("neg_id"),
                )
            ).alias("best"),
        )
        .select(
            "doc_id",
            "n_matches",
            (-F.col("best.neg_id")).alias("best_match_id"),
            F.col("best.j").alias("best_jaccard"),
        )
    )
    return (
        batch.select("doc_id")
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "best_match_id",
            "best_jaccard",
            F.col("n_matches").isNull().alias("is_novel"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash: bit j of the signature is the majority vote of bit j
    over all token hashes (+1 if set, -1 if not). One narrow pass;
    ties (sum == 0) resolve to bit 0 — both conventions fixed so the
    oracle can replicate exactly."""
    # Same one-md5-per-token explode+agg shape as minhash_signature
    # (64 inline folds would recompute the hash pipeline 64x). md5 is
    # hashed once per token; the low 60 voted bits read the first 15
    # hex chars, the top 4 the 16th — RAW bits, not mod-reduced ones:
    # every voted position must be uniform (the mod-reduced token_hash
    # leaves bits >= ~30 degenerate; see the SIMHASH_BITS history).
    # Two chained transforms: md5 once per token, then both halves
    # converted IN-ROW so the explode ships 16-byte (lo, hi) structs,
    # not 32-char hex strings (first cut exploded the strings and
    # converted post-explode — +80% on the signature pass at 500k
    # docs, explode volume being the cost that scales).
    halves = F.transform(
        F.transform(tokens(text_col), F.md5),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 15), 16, 10).cast("bigint").alias("lo"),
            F.conv(F.substring(m, 16, 1), 16, 10).cast("bigint").alias("hi"),
        ),
    )
    exploded = df.select(
        "doc_id", F.explode_outer(halves).alias("h")
    ).select(
        "doc_id",
        F.col("h.lo").alias("h_lo"),
        F.col("h.hi").alias("h_hi"),
    )

    def bit(j: int):
        if j < 60:
            return F.shiftright(F.col("h_lo"), j).bitwiseAND(1)
        return F.shiftright(F.col("h_hi"), j - 60).bitwiseAND(1)

    votes = [
        F.sum(
            F.when(F.col("h_lo").isNull(), 0)
            .when(bit(j) == 1, 1)
            .otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = exploded.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(SIMHASH_BITS):
        # Bit 63's weight is Long.MIN_VALUE (2^63 has no positive
        # int64 form); it is added LAST, so every intermediate sum
        # stays inside int64 on both engines — no wraparound relied on.
        weight = F.lit(-(2 ** 63) if j == 63 else 2 ** j).cast("bigint")
        term = F.when(F.col(f"v_{j}") > 0, weight).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def _block_widths(bits: int, n_blocks: int) -> list[int]:
    """Split ``bits`` into ``n_blocks`` near-even widths (wider first)."""
    base, extra = divmod(bits, n_blocks)
    return [base + (1 if i < extra else 0) for i in range(n_blocks)]


def simhash_band_plan(
    n_docs: int, *, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> int:
    """Corpus-adaptive block count for :func:`simhash_pairs` — the
    scale lever the measured growth ladder demanded (16-bit bands
    saturate at ~2^16 docs/band: d07 stepped 103.8 s -> 255.1 s across
    sf30 -> sf100 on exactly this law).

    The generalized Manku multi-block scheme splits the signature into
    ``m`` blocks and joins on every combination of ``m - max_hamming``
    blocks (C(m, max_hamming) keys/doc): ``max_hamming`` flips touch
    at most ``max_hamming`` blocks, so at least one combination is
    fully unchanged — recall stays exact for any ``m > max_hamming``.
    Random collisions per combo scale ~n²/2^w where w is the combo key
    width = sum of its block widths; this picks the smallest ``m``
    whose minimum combo width satisfies ``2^w >= n_docs`` (expected
    spurious candidates <= ~1 per doc per combo). Growing ``m`` trades
    a small linear cost (C(m, max_hamming) band rows per doc: 4 -> 10
    -> 20 ...) against the quadratic bucket-saturation cliff — a
    config derived from corpus size, never an incident.

    m=4 (the frozen oracle-paired default) up to 65 k docs; m=5 (combo
    width 25) to 33 M; m=6 (31) to 2 G docs; the 100 TB regime lands
    at m=7-8 with <= 70 band rows/doc."""
    m = max_hamming + 1
    while True:
        widths = _block_widths(bits, m)
        combo_w = sum(sorted(widths)[: m - max_hamming])
        # combo width grows toward `bits` as m grows; stop when the
        # key space covers the corpus (or the scheme runs out of bits
        # — blocks of width < 2 can't subdivide further usefully).
        if 2**combo_w >= n_docs or min(widths) <= 2:
            return m
        m += 1


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: split the 64-bit signature into
    ``n_bands`` blocks, equi-join on every ``n_bands - max_hamming``
    block combination (pigeonhole: any pair within ``max_hamming``
    bit flips leaves at least one combination unchanged), then verify
    hamming distance via ``bit_count(xor)`` in-row. With the default
    ``n_bands=4, max_hamming=3`` the combinations are single blocks —
    the classic 4x16-bit banding. Pass ``n_docs`` to let
    :func:`simhash_band_plan` widen the join keys with corpus size
    (combination keys of 2+ blocks), keeping expected random
    collisions ~linear; the final pair set is IDENTICAL under every
    valid plan because candidates are verified against the full
    signature, so adaptivity never costs parity.

    Scale shape: the candidate shuffle carries (combo_idx, <=8-byte
    key, doc_id); signatures are 8 bytes; text never moves. All
    JVM-side bit arithmetic, oracle-checkable. Key width is the scale
    lever: expected candidates per combo are ~n²/2^width — the
    measured d07 ladder (10.5 s @ 500 k -> 103.8 s @ 1.5 M -> 255.1 s
    @ 5 M docs on 16-bit keys; 2^16 buckets saturate) is the law this
    parameterization prices. Masks neutralize shiftright's sign
    extension on the bit-63 block."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    if n_docs is not None:
        n_bands = simhash_band_plan(
            n_docs, max_hamming=max_hamming, bits=bits
        )
    import itertools

    widths = _block_widths(bits, n_bands)
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    combo_size = n_bands - max_hamming
    combos = list(itertools.combinations(range(n_bands), combo_size))

    def combo_key(combo: tuple[int, ...]) -> Column:
        """Fold the combo's block values into one long (total width
        < 64 whenever combo_size < n_bands, so no overflow)."""
        expr = None
        for b in combo:
            bv = F.shiftright(F.col("simhash"), offsets[b]).bitwiseAND(
                F.lit((1 << widths[b]) - 1)
            )
            expr = bv if expr is None else F.shiftleft(expr, widths[b]).bitwiseOR(bv)
        return expr

    sig = simhash(df, text_col)
    # Persisted: the self-join's two legs are the SAME banded frame,
    # but Spark's exchange reuse does not fire across the non-equi
    # join shape — without the persist the whole signature pass
    # (explode + 64-vote aggregation over every token) runs twice.
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band_idx"),
                        combo_key(c).alias("band_val"),
                    )
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    bands = tracked_persist(bands)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected orientation (big, small); self-loops out."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def two_phase_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph path of :func:`dedup_clusters`.

    Min-label propagation converges in O(component diameter) rounds:
    fine for the shallow star-like components real near-dup graphs
    produce, hopeless for a long chain (crawl mirrors A->B->C->...).
    The two-phase algorithm converges in O(log^2 n) rounds REGARDLESS
    of diameter by rewriting the edge set itself each round:

    - large-star: every node links its larger neighbors to the min of
      its neighborhood (including itself) — flattens tall trees;
    - small-star: every node links its smaller neighbors and itself to
      its minimum neighbor — contracts the remainder toward the min.

    Both steps preserve connectivity (paper, Lemma 1-2) and strictly
    shrink a potential function, so the edge set reaches a fixpoint of
    stars centered at each component's minimum; labels fall out of the
    final (node, center) edges. Each step is one groupBy + one join on
    the PAIR set — the same narrow (long, long) shuffles as label
    propagation, just O(log^2 n) of them — and every round is
    ``localCheckpoint``-ed to truncate lineage.
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("u"),
        F.col(b_col).cast("long").alias("v"),
    )
    nodes = (
        e.select(F.col("u").alias("doc_id"))
        .union(e.select(F.col("v").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    edges = _canon_edges(e).localCheckpoint()
    n_edges = edges.count()
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the symmetric adjacency
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges_l = _canon_edges(large).localCheckpoint()
        # small-star over the big->small orientation
        mins2 = edges_l.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            edges_l.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        new_edges = _canon_edges(small).localCheckpoint()
        # Set equality via count + ONE anti-join (r13 plan-audit fix:
        # the old check ran two anti-join shuffles per round): both are
        # dedup'd sets, so |new| == |old| and new \ old == {} imply
        # equality — the second anti-join can never disagree.
        n_new = new_edges.count()
        changed = (
            1
            if n_new != n_edges
            else new_edges.join(edges, ["u", "v"], "left_anti").count()
        )
        edges, n_edges = new_edges, n_new
        if changed == 0:
            converged = True
            break
    LAST_CLUSTER_STATS.update(
        {"algorithm": "two_phase", "rounds": rounds, "fell_back": False}
    )
    if not converged:
        raise RuntimeError(
            f"two_phase_components did not converge in {max_iter} "
            "rounds — not expected for any graph below ~2^sqrt(max_iter) "
            "nodes; raise max_iter"
        )
    # Fixpoint edges are stars (node -> component-min center); centers
    # and isolated nodes label themselves.
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return nodes.join(
        labels.withColumnRenamed("u", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc in a
    component gets ``cluster_id`` = the component's minimum doc id —
    the canonical-representative step that turns pairwise dedup output
    into keep/drop decisions.

    Iterative min-label propagation: each round joins labels across
    edges and keeps the element-wise minimum, converging in
    O(component diameter) rounds (near-dup components are shallow —
    star-like around a template — so this is 2-4 rounds in practice).
    Each round is one equi-join + one partial-aggregated groupBy on
    the PAIR set, which is tiny next to the corpus; the corpus itself
    is never touched. The driver-side loop is control flow only (one
    count per round); each round's labels are ``localCheckpoint``-ed —
    iterative plans MUST truncate lineage, or the logical plan doubles
    every round and the optimizer itself OOMs long before the data
    does.

    Label propagation is the cheaper plan for the shallow components
    near-dup graphs actually produce; when the component diameter
    exceeds ``max_iter`` (adversarial long chains: crawl mirror
    cascades) it falls back to :func:`two_phase_components`, which
    converges in O(log^2 n) rounds regardless of diameter.
    """
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )
    labels = (
        edges.select("u").distinct().withColumn("label", F.col("u")).localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("nl")), "v"
            )
            .groupBy("u")
            .agg(F.min("nl").alias("nbr_label"))
        )
        # One checkpointed frame carries (old_label, label): the
        # convergence count is then a scan of the in-memory checkpoint
        # (filter + count), not a second labels-x-labels shuffle join
        # per round — r13 plan-audit fix, one exchange fewer per round
        # with bit-identical labels (old_label is dropped before the
        # next round's join).
        stepped = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("old_label") != F.col("label")).count()
        labels = stepped.select("u", "label")
        if changed == 0:
            converged = True
            break
    LAST_CLUSTER_STATS.update(
        {"algorithm": "label_prop", "rounds": rounds, "fell_back": False}
    )
    if not converged:
        # A partially-propagated result would silently split one
        # component into several cluster_ids — never return it. The
        # diameter has outrun max_iter, which is exactly the graph
        # shape the two-phase rewrite is built for.
        out = two_phase_components(pairs, a_col, b_col)
        LAST_CLUSTER_STATS["fell_back"] = True
        return out
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))
