"""Text-analysis operators over a document table (SURVEY §2.10 X3).

All hot-path computation is JVM-side: split/explode/HOF expressions,
no Python. The deterministic token hash (md5-prefix -> bigint) is the
shared primitive for fingerprints, MinHash and SimHash — chosen because
every engine (Spark `conv(substr(md5(x),1,15),16,10)`, DuckDB
`('0x'||substr(md5(x),1,15))::BIGINT`) computes the identical value, so
these operators stay oracle-checkable.

Scale: everything here is embarrassingly parallel per-document (narrow
transformations — zero shuffle) except term frequency, which is one
shuffle on the token.
"""

from __future__ import annotations

from etl_notifier_pipeline_spark.caching import tracked_persist
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Modulus for token-hash arithmetic: < 2^30 so (31*h + h') stays far
# inside int64; prime keeps the ring well-mixed.
HASH_MOD = 999_999_937

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str, sep: str = " ") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, sep)


def token_hash(col: Column) -> Column:
    """Deterministic 60-bit token hash, reduced mod HASH_MOD.

    md5 -> first 15 hex chars -> bigint. Engine-portable (see module
    docstring) and uniform enough for MinHash/SimHash banding.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint") % HASH_MOD


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


# BPE-style pre-tokenizer: splits into letter runs, digit runs, and
# punctuation runs, each optionally absorbing one leading space — the
# GPT-2 pre-tokenization shape, restricted to lookahead-free RE2 syntax
# so Spark (Java regex) and DuckDB (RE2) agree token-for-token.
BPE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_tokens(col: Column | str, pattern: str = BPE_PATTERN) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(pattern), F.lit(0))


def bpe_token_count(col: Column | str, pattern: str = BPE_PATTERN) -> Column:
    """Sub-word-ish token budget estimate: counts BPE pre-tokenizer
    pieces, the standard first-order proxy for LLM token counts when
    the real BPE merge table isn't in play."""
    return F.size(bpe_tokens(col, pattern))


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring features: token counts, type/token
    ratio, stopword ratio, mean token length — the standard cheap
    filters of a pretraining-data pipeline. Pure projection (no
    shuffle); ratios are int/int divisions in double (bit-exact)."""
    n_tok = token_count(text_col)
    n_dist = distinct_token_count(text_col)
    n_stop = stopword_count(text_col)
    # Single-space-joined text: mean token len has a closed form.
    mean_len = (F.length(text_col) - (n_tok - F.lit(1))) / n_tok
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dist.alias("n_distinct_tokens"),
        (n_dist.cast("double") / n_tok).alias("type_token_ratio"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        mean_len.cast("double").alias("mean_token_len"),
    )


def term_frequency(
    df: DataFrame, text_col: str = "text", by: str = "lang", k: int = 10
) -> DataFrame:
    """Top-k tokens per group — explode + count + ranking window.

    Scale shape: partial map-side counts before the single shuffle on
    (group, token); ranking shuffles once more on the group. Skewed hot
    tokens are absorbed by the partial aggregation."""
    from pyspark.sql import Window as W

    counts = (
        df.select(F.col(by), F.explode(tokens(text_col)).alias("token"))
        .groupBy(by, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy(by).orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Order-sensitive rolling document fingerprint.

    fold over tokens: acc -> (31*acc + token_hash) mod HASH_MOD. The
    initial accumulator 0 makes the first step equal the first token's
    hash, which lets the DuckDB oracle express the identical fold with
    ``list_reduce`` (whose seed is the first element)."""
    hashed = F.transform(tokens(col), token_hash)
    return F.aggregate(
        hashed,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % HASH_MOD,
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: score against per-language marker-token
    tables, argmax with alphabetic tie-break. A real deployment swaps
    the marker lists for char-n-gram profiles; the operator shape
    (N scores as parallel HOF reductions + greatest/when argmax, no
    Python, no shuffle) is the point."""
    markers = {
        "en": ("the", "and", "of"),
        "es": ("el", "la", "de"),
        "fr": ("le", "la", "et"),
        "de": ("der", "die", "und"),
        "zh": ("zh",),
    }
    toks = tokens(text_col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in markers.items()
    }
    best = F.greatest(*scores.values())
    # Alphabetic order, first winner takes the tie.
    expr = None
    for lang in sorted(scores):
        cond = scores[lang] == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return df.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        expr.alias("predicted_lang"),
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: fraction of duplicate word
    2-grams / 3-grams per document + a ``repetitive`` flag (dup-2gram
    fraction > 0.2). Pure per-row HOF arithmetic (int/int division in
    double), zero shuffle; NULL fractions for docs too short to have
    n-grams."""
    from etl_notifier_pipeline_spark.extensions.dedup import shingles

    # HOF expressions (transform/concat_ws) run INTERPRETED — naive
    # per-output-column reuse would rebuild each n-gram array up to 5x
    # per row. The gram COUNT is pure token arithmetic (|g_n| =
    # max(|toks| - n + 1, 0)), so the array is materialized only
    # inside the two array_distinct calls.
    g2, g3 = shingles(text_col, 2), shingles(text_col, 3)
    n_tok = F.size(tokens(text_col))
    n2 = F.greatest(n_tok - 1, F.lit(0))
    n3 = F.greatest(n_tok - 2, F.lit(0))
    d2 = F.size(F.array_distinct(g2))
    d3 = F.size(F.array_distinct(g3))

    def dup_frac(n, d):
        return F.when(n > 0, (n - d).cast("double") / n)

    return df.select(
        "doc_id",
        n2.alias("n_2grams"),
        dup_frac(n2, d2).alias("dup_2gram_frac"),
        n3.alias("n_3grams"),
        dup_frac(n3, d3).alias("dup_3gram_frac"),
        F.coalesce(dup_frac(n2, d2) > 0.2, F.lit(False)).alias("repetitive"),
    )


def contamination_counts(
    df: DataFrame, is_eval: Column, text_col: str = "text", n: int = 5
) -> DataFrame:
    """Benchmark decontamination: for every non-eval document sharing
    at least one word n-gram with the eval rows, the count of distinct
    overlapping (hashed) n-grams.

    Scale shape: both sides hash n-grams to 8-byte ints, the eval side
    dedups to one row per distinct shingle and BROADCASTS (eval
    benchmarks are tiny next to a training corpus) — the corpus side
    never shuffles for the join."""
    from etl_notifier_pipeline_spark.extensions.dedup import shingles

    hashed = F.array_distinct(F.transform(shingles(text_col, n), token_hash))
    ev = df.filter(is_eval).select(F.explode(hashed).alias("shingle")).distinct()
    ci = df.filter(~is_eval).select("doc_id", F.explode(hashed).alias("shingle"))
    return (
        ci.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by ratio-form tf-idf:
    score = tf * N / df (term frequency x inverse document-frequency
    ratio). The log is deliberately omitted: ln() differs in the last
    ulp across libm implementations, while an int*int/int double
    division is bit-identical on every engine — rankings are unchanged
    (log is monotone), and the score stays oracle-checkable.

    Scale shape: explode -> (doc, token) partial-agg count (the only
    wide shuffle, carrying token strings once); token-level df is a
    count window over that same frame partitioned by token (one narrow
    re-shuffle, no second corpus scan, no join); corpus size N rides
    along as a broadcast scalar aggregate (crossJoin of a 1-row count)
    — NOT a separate ``df.count()`` job. The whole operator is one
    action over one text scan.
    """
    from pyspark.sql import Window as W

    n = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    tf = (
        df.select("doc_id", F.explode(tokens(text_col)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .crossJoin(n.hint("broadcast"))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("__n_docs")).cast("double") / F.col("df")).alias(
                "tfidf_ratio"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_ratio").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf_ratio", "rank")
    )


def chunk_token_windows(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window slicing
    pass of a pretraining pipeline (stride < window gives overlap;
    stride == window tiles exactly; stride > window is sampling mode
    and skips the tokens between windows by design).

    Emits one row per (doc, chunk): ``chunk_idx`` (0-based, dense),
    ``chunk_tokens`` (actual length, short at the tail), and
    ``chunk_text``. Chunk starts are 0, stride, 2*stride, ... < n_tok.

    Scale shape: split + sequence + posexplode + slice — all JVM-side
    whole-stage-codegen expressions, no shuffle at all (chunking is
    embarrassingly parallel); the token array is built once per doc
    and sliced per chunk. The generator and the slice live in separate
    selects (a posexplode + getField in one select strips struct
    names during analysis).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = df.select(doc_id_col, tokens(text_col).alias("__toks"))
    exploded = toks.select(
        doc_id_col,
        "__toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(stride))
        ).alias("chunk_idx", "__start"),
    )
    sliced = F.slice("__toks", F.col("__start") + 1, window)
    return exploded.select(
        doc_id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(sliced).cast("long").alias("chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


def oov_rate(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 16,
) -> DataFrame:
    """Vocabulary-coverage scoring: induce the corpus top-``vocab_size``
    token vocabulary (by term count, token-ascending tie-break — a
    total order, so the vocabulary is deterministic), then score each
    document by its out-of-vocabulary token fraction. High OOV rate
    flags boilerplate/garbled/wrong-domain text against the corpus — a
    standard pretraining quality filter, and the exact-arithmetic
    stand-in for tokenizer-coverage checks (all counts integer, one
    final double division).

    Scale shape: the token frame is computed ONCE and persisted (two
    consumers: vocabulary induction and per-doc scoring). Vocabulary =
    one token-keyed count shuffle + TakeOrderedAndProject top-k; it is
    vocab_size rows, so the scoring join BROADCASTS it (left join,
    null = OOV) and per-doc counts aggregate map-side. No Python
    anywhere.
    """
    tok = tracked_persist(df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    ))
    vocab = F.broadcast(
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias(
                "oov_rate"
            ),
        )
    )


def substring_dup_stats(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Substring-level duplication audit (the RefinedWeb/SlimPajama
    measure exact dedup misses): stride-sampled character shingles of
    ``width`` chars, hashed; a shingle is duplicated when it occurs in
    more than one document; per doc, the fraction of its shingle
    positions that are cross-doc duplicated.

    Scale shape: ONE scan of the corpus (the text column and the
    substring/md5 compute never run twice — a self-join frequency
    lookup would rescan). The shingle frame carries only (doc_id,
    8-byte hash). Cross-doc duplication is computed WITHOUT a window:
    a count-over-h window sorts the full shingle frame per partition,
    and at 5 M docs that sort spilled 43 GB memory / 8 GB disk
    (measured, sf100 diagnosis run) — the only spilling stage in the
    whole growth ladder. Instead, use the complement identity
    ``n_dup = n_shingles - sum(k over hashes this doc owns alone)``
    with one shingle-sized aggregation: a hash h is solely owned iff
    min(doc_id) == max(doc_id) over its POSITION rows, and its k is a
    plain count, so groupBy(h).agg(count, min, max) finds every solely
    owned hash and its k, which then re-aggregates by owner. The
    per-doc totals aggregate runs from the persisted shingle frame
    (doc-keyed, map-side combine collapses it to ~n_docs rows per
    partition). No sort anywhere; the join-back frame is doc-sized,
    not shingle-sized. n^2 never appears — duplication is detected by
    grouping, not pairing (cf. reference has no dedup at all;
    capability mandated by BASELINE.json north star).

    X29_AB_sf100.json measured this plan against the earlier one, which
    aggregated (h, doc_id) pair counts first and rolled them up per
    hash: 31.1 s against 46.6 s at sf100, shuffle write 3.33 against
    5.46 GB. Both spill about the same (6.2/1.2 GB memory/disk here,
    5.5/0.9 there): near-unique hash keys give the partial aggregate
    nothing to combine, so the final hash aggregate's sort fallback is
    inherent to a shingle-sized aggregate, and graceful.
    """
    from etl_notifier_pipeline_spark.caching import tracked_persist

    text = F.col(text_col)
    shingles = (
        df.filter(F.length(text) >= width)
        .select(
            F.col(doc_id_col).alias("doc_id"),
            F.explode(
                F.sequence(
                    F.lit(1), F.length(text) - (width - 1), F.lit(stride)
                )
            ).alias("pos"),
            text.alias("__t"),
        )
        .select(
            "doc_id",
            token_hash(F.col("__t").substr(F.col("pos"), F.lit(width))).alias("h"),
        )
    )
    # persisted because BOTH rollups consume it and recomputing
    # means re-hashing the corpus. Narrow: 16 B/row.
    shingles = tracked_persist(shingles)
    per_h = shingles.groupBy("h").agg(
        F.count(F.lit(1)).alias("k_total"),  # positions with h
        F.min("doc_id").alias("owner"),
        F.max("doc_id").alias("mx"),
    )
    uniq = (
        per_h.filter(F.col("owner") == F.col("mx"))  # solely owned
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.sum("k_total").alias("n_uniq"))
    )
    totals = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (
                F.col("n_shingles")
                - F.coalesce(F.col("n_uniq"), F.lit(0))
            ).cast("long").alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            (
                F.col("n_dup_shingles").cast("double") / F.col("n_shingles")
            ).alias("dup_fraction"),
        )
    )


def token_novelty(
    df: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vocabulary-growth audit: per document, the fraction of its
    DISTINCT tokens whose first corpus occurrence (min doc_id) is this
    document — the curve that tells a data curator when additional
    shards stop contributing new vocabulary.

    Scale shape: ONE scan (a groupBy-then-join-back would tokenize the
    corpus twice); distinct (doc, token) pairs, then first-seen as a
    min-over-token window on the already-token-clustered rows, then the
    per-doc rollup. Token strings shuffle once; everything after is
    (hashable, long).
    """
    from pyspark.sql import Window as W

    tok = df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).distinct()
    first = F.min("doc_id").over(W.partitionBy("tok"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        tok.withColumn("first_doc", first)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_distinct_tokens",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_distinct_tokens")).alias(
                "novelty"
            ),
        )
    )
