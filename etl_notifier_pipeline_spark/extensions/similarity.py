"""Similarity search over embedding columns (SURVEY §2.10 X2).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
scan the corpus once, per-partition heap via ranking window. The dot
product is a JVM-side HOF fold in double (zip_with + aggregate): no
Python, no UDF, whole-stage codegen.

Scale path: blocked/LSH variants restrict the candidate set before the
exact rerank — ``blocked_near_dup_pairs`` shows the blocking-key shape
(join only within a block), and random-hyperplane LSH drops in the same
way MinHash banding does for text.

Determinism: the fold is a sequential left fold in double, matching
DuckDB's ``list_reduce`` element order, so cosine values are bit-equal
across engines and top-k (tie-broken by id) is oracle-checkable.
"""

from __future__ import annotations

from etl_notifier_pipeline_spark.caching import tracked_persist
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Plan: broadcast(queries) ⨯ corpus — one corpus scan, no shuffle of
    the corpus; the ranking window shuffles only (query_id, score, id)
    triples. Self-matches are excluded. Tie-break: (score desc, id).
    """
    # Norms are precomputed per row (corpus norms once per vector, not
    # once per (query, vector) pair — the folds are interpreted, so an
    # 8-query workload would otherwise pay 8x the norm cost). Same
    # bits as inline norms: the fold is deterministic.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Frozen random hyperplanes (seeded) — a fixed engine parameter,
    like the MinHash coefficient family."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit_i = [vec · plane_i >= 0]. Same
    JVM-side fold as ``dot``; the planes ride along as array literals
    (broadcast with the plan, no Python)."""
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.lit(2 ** i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit
    return bucket


def _lsh_buckets(tables: list[list[list[float]]]) -> "callable":
    def buckets(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"), lsh_bucket(vec, planes).alias("bkt")
                )
                for t, planes in enumerate(tables)
            ]
        )

    return buckets


def lsh_build(
    corpus: DataFrame,
    *,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, dict]:
    """Build the multi-table LSH index: one narrow corpus pass computes
    all L bucket ids (an array column exploded to (table, bucket)
    rows). Returns ``(index_df, params)`` — the index is a plain
    DataFrame (write it to parquet once, serve many query batches from
    it: the build/serve split every production ANN deployment uses);
    ``params`` is a JSON-able config dict the query side regenerates
    the deterministic hyperplanes from."""
    tables = [
        _hyperplanes(dim, n_planes, seed=42 + t) for t in range(n_tables)
    ]
    index = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        F.explode(_lsh_buckets(tables)(F.col(vec_col))).alias("b"),
    ).select("neighbor_id", "c_vec", "c_norm", "b.tbl", "b.bkt")
    return index, {"n_planes": n_planes, "n_tables": n_tables, "dim": dim}


def lsh_append(
    params: dict,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental LSH index maintenance: a vector's bucket ids depend
    only on the seed-deterministic hyperplanes ``params`` regenerates,
    never on other corpus vectors — so the increment's index rows are
    exactly ``lsh_build`` run on the increment alone, O(increment),
    one parquet append. Unlike IVF/IVFADC there is no trained state to
    go stale: an LSH index never NEEDS a rebuild for appends, only for
    recall retuning (plane/table counts)."""
    index, _ = lsh_build(
        new_vectors,
        n_planes=params["n_planes"],
        n_tables=params["n_tables"],
        dim=params["dim"],
        id_col=id_col,
        vec_col=vec_col,
    )
    return index


def lsh_query(
    index: DataFrame,
    params: dict,
    queries: DataFrame,
    k: int = 5,
    *,
    exclude: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a query batch from a prebuilt ``lsh_build`` index:
    candidates resolve through an equi-join on (table, bucket) — the
    n²·d brute-force pair space never materializes — then exact cosine
    rerank of the (deduplicated) candidates.

    ``exclude``: tombstone mask of ``id_col`` values deleted since the
    index was built — broadcast-anti-joined out of the stored index at
    serve time (see ``ivf_query`` for the sizing contract)."""
    if exclude is not None:
        index = index.join(
            F.broadcast(
                exclude.select(F.col(id_col).alias("neighbor_id")).distinct()
            ),
            "neighbor_id",
            "left_anti",
        )
    tables = [
        _hyperplanes(params["dim"], params["n_planes"], seed=42 + t)
        for t in range(params["n_tables"])
    ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.explode(_lsh_buckets(tables)(F.col(vec_col))).alias("b"),
    ).select("query_id", "q_vec", "q_norm", "b.tbl", "b.bkt")
    # Score BEFORE the cross-table dedup: the dedup is the plan's only
    # exchange, and an exchange that still carries both d-float vectors
    # moves ~550 B/candidate (measured filling the disk at a 1000-query
    # batch on 2 M vectors — ~137 GB of spill); scoring first (pure
    # map-side codegen, deterministic per pair, so table-duplicates
    # score identically) narrows the exchanged row to 24 B, and the
    # aggregate's map-side partial dedup shrinks it further before any
    # byte moves.
    scored = (
        index.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])  # OR across tables
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH candidate
    filter, then exact cosine rerank of the (deduplicated) candidates.
    One-shot composition of ``lsh_build`` + ``lsh_query`` (identical
    plans — the split exists so a served index amortizes the build).

    Scale shape: one narrow corpus pass computes all L bucket ids (an
    array column exploded to (table, bucket) rows); candidates resolve
    through an equi-join on (table, bucket) — the n²·d brute-force pair
    space never materializes. Recall tuning is the standard LSH
    trade-off: fewer planes -> bigger buckets (higher recall per
    table), more tables -> OR over tables (recall 1-(1-p^b)^L).
    Approximate by construction -> rows-only driver check + recall
    property test, no SQL oracle."""
    index, params = lsh_build(
        corpus, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    return lsh_query(
        index, params, queries, k, id_col=id_col, vec_col=vec_col
    )


def _lit_vec(values: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in values])


def _sqdist(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid — same JVM-side fold
    as ``dot``; the centroid rides along as an array literal."""
    return F.aggregate(
        F.zip_with(vec, _lit_vec(centroid), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cell_structs(vec: Column, centroids: list[list[float]]) -> Column:
    return F.array(
        *[
            F.struct(_sqdist(vec, c).alias("d"), F.lit(i).cast("int").alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id via min-of-(dist, cell) structs: one
    fold per centroid (array_position-over-array_min would inline the
    interpreted folds TWICE per row — the CollapseProject duplication
    this repo's parity notes warn against); lowest cell wins distance
    ties — deterministic."""
    return F.array_min(_cell_structs(vec, centroids)).getField("cell")


def _dense_pass(df: DataFrame) -> DataFrame:
    """Pin the partition GEOMETRY of a whole-corpus Arrow/numpy pass
    to the session's parallelism, independent of the global input
    split conf. The r11 spill fix sized `maxPartitionBytes` for
    text operators that amplify 10-20x in memory — but dense-vector
    matmul passes are the opposite regime: fixed-width rows, no
    amplification, and a per-TASK fixed cost (Python worker
    handshake, Arrow stream setup, centroid-matrix rebuild) that
    16 MB splits multiply ~7x (s09 at sf100 measured 35.7 -> 77.2 s
    under the text-sized splits). `coalesce` (never `repartition`)
    folds splits back to cores without a shuffle and is a no-op when
    the scan is already at-or-under parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.coalesce(max(1, target))


def _sq_dist(X, C):
    """``|c|² − 2x·c`` for every (row of X, row of C) pair: it ranks the
    centroids exactly as ``|x − c|²`` does (``|x|²`` is constant per
    row), as one batch x centroids matmul instead of the batch x
    centroids x dim difference tensor (GBs per Arrow batch at
    corpus-scaled centroid counts)."""
    return (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)


def _lloyd(corpus: DataFrame, vec_col: str, books, *, normalize: bool = False):
    """One distributed Lloyd step of ``m`` k-means quantizers: ``books``
    (m, k, d_sub) quantize the m contiguous subvectors of ``vec_col``
    (m = 1 is the IVF coarse quantizer, m > 1 PQ codebooks). Returns
    the new books; a centroid no subvector chose keeps its value.

    One Arrow-batched pass: numpy assigns each subvector to its nearest
    centroid (ties -> lowest index) and emits per-partition PARTIAL
    sums, micro-quantized to int64 before the shuffle (the s06
    determinism trick) — the shuffle carries m x k x d_sub scalar rows
    per partition, never vectors, and the sums cannot vary with
    partition order."""
    import numpy as np
    import pandas as pd

    m, k, d_sub = books.shape

    def partial_sums(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if normalize:
                X /= np.linalg.norm(X, axis=1, keepdims=True)
            rows = []
            for s in range(m):
                Xs = X[:, s * d_sub : (s + 1) * d_sub]
                cell = _sq_dist(Xs, books[s]).argmin(axis=1)
                for j in range(k):
                    mask = cell == j
                    n = int(mask.sum())
                    if not n:
                        continue
                    qs = np.round(Xs[mask] * 1_000_000).astype(np.int64).sum(axis=0)
                    rows.extend((s, j, p, int(qs[p]), n) for p in range(d_sub))
            yield pd.DataFrame(rows, columns=["sub", "cell", "pos", "qsum", "n"])

    sums = (
        _dense_pass(corpus.select(vec_col))
        .mapInPandas(partial_sums, "sub int, cell int, pos int, qsum long, n long")
        .groupBy("sub", "cell", "pos")
        .agg(F.sum("qsum").alias("qsum"), F.sum("n").alias("n"))
        .collect()
    )
    out = books.copy()
    for r in sums:
        out[r["sub"], r["cell"], r["pos"]] = r["qsum"] / 1_000_000 / r["n"]
    return out


def ivf_assign_frame(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "cell",
    jvm_max_cells: int = 64,
) -> DataFrame:
    """``df`` + nearest-centroid ``out_col``, picking the right
    execution strategy for the centroid count: the JVM Column fold for
    small lists (stays in codegen, no Python boundary), an Arrow
    matmul pass for corpus-scaled lists — ``ivf_assign``'s expression
    tree grows one interpreted fold PER centroid, so at hundreds of
    cells (a corpus-sized ``semantic_dedup``) the expression approach
    is the bottleneck, not the data. Ties break to the lowest cell id
    on both paths (``array_min`` struct order / ``np.argmin``)."""
    if len(centroids) <= jvm_max_cells:
        return df.withColumn(out_col, ivf_assign(F.col(vec_col), centroids))
    import numpy as np

    from pyspark.sql import types as T

    C = np.array(centroids, dtype=np.float64)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            pdf[out_col] = _sq_dist(X, C).argmin(axis=1).astype("int32")
            yield pdf

    return _dense_pass(df).mapInPandas(assign, schema)


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    *,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse-quantizer centroids: deterministic seeds (the ``n_cells``
    lowest-id corpus vectors) refined by ``n_iter`` distributed Lloyd
    steps (``_lloyd`` with one subspace). The centroid table itself is
    tiny (n_cells × dim) and lives driver-side like any broadcast
    dimension."""
    import numpy as np

    seeds = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    if not seeds:
        raise ValueError("ivf_centroids: corpus is empty")
    # A corpus smaller than n_cells degrades to one cell per vector.
    books = np.array([[list(map(float, r[vec_col])) for r in seeds]], dtype=np.float64)
    for _ in range(n_iter):
        books = _lloyd(corpus, vec_col, books)
    return books[0].tolist()


def ivf_build(
    corpus: DataFrame,
    *,
    n_cells: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """Build the IVF index: train centroids (seeded Lloyd steps), then
    assign every corpus vector to its nearest cell in one narrow
    Arrow-batched pass. Returns ``(index_df, params)`` — the index is
    a plain DataFrame (neighbor_id, c_vec, c_norm, cell) to persist
    once and serve many query batches; ``params["centroids"]`` is the
    KB-sized driver-side table the query side probes with."""
    cents = ivf_centroids(
        corpus, n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    index = _ivf_assign_pass(corpus, cents, id_col=id_col, vec_col=vec_col)
    return index, {"centroids": cents}


def _ivf_assign_pass(
    vectors: DataFrame,
    cents: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus-side cell assignment: the hot pass (every vector x
    every centroid) as one Arrow-batched numpy argmin, not |cells|
    interpreted HOF folds per row (ivf_assign stays the Column form
    for plan-side uses like the query probes in ivf_query, where rows
    are few). Shared by ``ivf_build`` (full corpus) and ``ivf_append``
    (the increment only)."""
    import numpy as np
    import pandas as pd

    C = np.array(cents, dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # cumsum = the same sequential left-fold the JVM norm()
            # runs, so c_norm is bit-identical to the brute-force path
            nrm = np.sqrt((X * X).cumsum(axis=1)[:, -1])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "c_vec": pdf[vec_col],
                    "c_norm": nrm,
                    "cell": _sq_dist(X, C).argmin(axis=1).astype("int32"),
                }
            )

    return _dense_pass(vectors.select(id_col, vec_col)).mapInPandas(
        assign,
        "neighbor_id long, c_vec array<float>, c_norm double, cell int",
    )


def ivf_append(
    params: dict,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY the new vectors
    to the existing centroids and return their index rows — the
    caller appends them to the stored index (one parquet append; the
    existing index is never read or rewritten). Cost is O(increment),
    the same contract as a merge-on-read delta commit. Appended rows
    are served identically to built rows because the index schema and
    the assign arithmetic are byte-identical to ``ivf_build``'s
    (pinned at full probe by the s18 oracle). Centroids are NOT
    retrained — cell balance degrades as the corpus drifts from the
    training distribution, which is when the rebuild policy (the
    tombstone-mask sizing contract in ``ivf_query``) says rebuild."""
    return _ivf_assign_pass(
        new_vectors, params["centroids"], id_col=id_col, vec_col=vec_col
    )


def ivf_query(
    index: DataFrame,
    params: dict,
    queries: DataFrame,
    k: int = 5,
    *,
    n_probe: int = 2,
    exclude: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a query batch from a prebuilt ``ivf_build`` index: probe
    the ``n_probe`` nearest cells per query via a broadcast equi-join
    on ``cell`` (the corpus is never shuffled), exact cosine rerank
    inside the probed cells.

    ``exclude`` is a tombstone mask: a frame whose ``id_col`` lists
    corpus ids deleted AFTER the index was built. They are masked out
    of the stored index at serve time (a broadcast anti-join — the
    index never shuffles), so deletes take effect immediately without
    an index rebuild. The deleted-id set is bounded by the rebuild /
    compaction policy — the same contract that bounds a merge-on-read
    delta stack — which is what keeps the mask broadcast-sized at any
    corpus scale; when the mask grows past that policy, the answer is
    a rebuild, not a bigger join."""
    cents = params["centroids"]
    if exclude is not None:
        tombs = (
            exclude.select(F.col(id_col).alias("neighbor_id")).distinct()
        )
        index = index.join(F.broadcast(tombs), "neighbor_id", "left_anti")
    probes = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        _sqdist(F.col(vec_col), cent).alias("d"),
                        F.lit(i).cast("int").alias("cell"),
                    )
                    for i, cent in enumerate(cents)
                ]
            )
        ),
        1,
        n_probe,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.explode(probes).alias("p"),
    ).select("query_id", "q_vec", "q_norm", F.col("p.cell").alias("cell"))
    scored = (
        index.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_cells: int = 8,
    n_probe: int = 2,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer:
    assign every corpus vector to its nearest centroid cell, probe only
    the ``n_probe`` nearest cells per query, exact cosine rerank inside
    the probed cells. One-shot composition of ``ivf_build`` +
    ``ivf_query`` (identical plans — the split exists so a served
    index amortizes the build).

    Scale shape: one narrow corpus pass computes cell ids; the
    candidate join is a broadcast equi-join on ``cell`` (the corpus is
    never shuffled); each (query, neighbor) pair appears at most once
    because a corpus vector lives in exactly one cell, so no dedup
    stage is needed (unlike multi-table LSH). Recall is the standard
    IVF trade-off: higher ``n_probe`` -> more cells scanned. The
    centroids here come from seeded Lloyd steps; a production corpus
    would plug in trained k-means centroids — the operator only needs
    the list.
    Approximate by construction -> rows-only driver check + recall
    property test, no SQL oracle."""
    index, params = ivf_build(
        corpus, n_cells=n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    return ivf_query(
        index, params, queries, k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def blocked_near_dup_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within a blocking key.

    The block equi-join keeps the pair space |block|² instead of n² —
    the standard scale move when a cheap partition key exists (shard,
    source, coarse cluster id). AQE's skew-join handles an oversized
    block."""
    l = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
        F.col(block_col).alias("block"),
    )
    r = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
        F.col(block_col).alias("block"),
    )
    return (
        l.join(r, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "block",
            "id_a",
            "id_b",
            (
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def blocked_near_dup_pairs_arrow(
    df: DataFrame,
    block_col: str = "cell",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``blocked_near_dup_pairs`` with Arrow-side pair scoring: one
    numpy |cell| x |cell| cosine matmul per block instead of one
    interpreted JVM fold per candidate pair. Same pair set, same
    blocking bound — different cost model: the fold path pays ~µs of
    expression interpretation PER PAIR (measured: 2.5M candidate pairs
    at sf1 = ~3 min; the matmul scores them in seconds), so this is
    the hot-path form for corpus-scale dedup, while the Column form
    stays the choice where a DuckDB oracle needs the exact sequential
    fold rounding (d08/s06's bit-exact twins). Parallelism is by
    block; blocks are bounded by the quantizer's target cell size, so
    per-group memory is |cell|^2 floats, not n^2."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"block": [], "id_a": [], "id_b": [], "cos_sim": []}
            )
        nrm = np.sqrt((X * X).sum(axis=1))
        S = (X @ X.T) / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, k=1)
        keep = S[ia, ib] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "block": pdf[block_col].iloc[0],
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": S[ia[keep], ib[keep]],
            }
        )

    return df.groupBy(block_col).applyInPandas(
        pairs, "block int, id_a long, id_b long, cos_sim double"
    )


# -- Product quantization (ADC) ------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    *,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks: split unit vectors into ``m``
    contiguous subvectors, k-means each subspace to ``n_codes``
    centroids (Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011).

    Scale shape: each Lloyd step is ONE Arrow-batched corpus pass
    (``_lloyd``); the driver only ever holds the m x n_codes x d_sub
    codebook (KB-sized, like the IVF centroid table).

    Seeding is deterministic AND corpus-spread: the ``n_codes``
    lowest xxhash64(id) vectors — a reproducible uniform sample that
    Spark executes as TakeOrdered (per-partition top-n, driver merge
    of n_codes rows; no global sort). Lowest-id seeding is fragile on
    any corpus with locality in its id order (every real ingest).
    Defaults follow the PQ literature: 256 codes = 8-bit
    subquantizers. Measured limit (ANN_RECALL_sf100.json): on 2 M
    near-random unit vectors, whole-vector PQ's quantization error
    exceeds the tiny cosine gaps that separate true neighbors from
    the bulk, so ADC ranking degenerates regardless of seeding or
    code count — the scale path is ``ivfpq_topk`` (PQ on coarse-cell
    RESIDUALS), which restores resolution.
    """
    import numpy as np

    seeds = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_codebooks: corpus is empty")
    V = np.array([list(map(float, r[vec_col])) for r in seeds], dtype=np.float64)
    if normalize:
        V /= np.linalg.norm(V, axis=1, keepdims=True)
    dim = V.shape[1]
    if dim % m:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m {m}")
    d_sub = dim // m
    n_codes = min(n_codes, len(V))
    books = np.stack(
        [V[:, s * d_sub : (s + 1) * d_sub] for s in range(m)]
    )  # (m, n_codes, d_sub)

    for _ in range(n_iter):
        books = _lloyd(corpus, vec_col, books, normalize=normalize)
    return books.tolist()


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector to ``m`` one-byte-ish codes (nearest
    codebook centroid per subspace) — the memory-compression pass of
    PQ: a 100 TB float corpus becomes an m-byte-per-vector code table
    that fits two orders of magnitude more vectors per executor.

    One Arrow-batched pass; numpy does the nearest-code argmin per
    subspace vectorized (``_sq_dist``). Emits the original vector and its
    norm alongside the codes so the exact rerank never re-reads the
    corpus."""
    import numpy as np
    import pandas as pd

    C = np.array(codebooks, dtype=np.float64)  # (m, k, d_sub)
    m, _, d_sub = C.shape

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # cumsum = the same sequential left-fold the JVM norm()
            # runs, so c_norm is bit-identical to the brute-force
            # path (the rerank's oracle gate sees a linalg.norm ulp)
            norms = np.sqrt((X * X).cumsum(axis=1)[:, -1])
            U = X / norms[:, None]
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Us = U[:, s * d_sub : (s + 1) * d_sub]
                codes[:, s] = _sq_dist(Us, C[s]).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "c_vec": pdf[vec_col],
                    "c_norm": norms,
                    "codes": list(codes.tolist()),
                }
            )

    return _dense_pass(corpus.select(id_col, vec_col)).mapInPandas(
        encode,
        "neighbor_id long, c_vec array<float>, c_norm double, codes array<int>",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    cand_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization with asymmetric
    distance computation (ADC): corpus vectors live as m-code arrays;
    each query precomputes an (m x n_codes) lookup table of exact
    subspace distances; the approximate distance of a pair is m table
    lookups + adds — no float vector math per pair. The
    ``cand_mult * k`` best ADC candidates get an exact cosine rerank.

    Scale shape: the per-pair hot path (zip_with codes x LUTs +
    aggregate) is JVM-side whole-stage codegen over a broadcast query
    frame — the corpus is scanned once, never shuffled; only
    (query_id, neighbor_id, score) triples reach the ranking window.
    On unit vectors ADC approximates ||q-x||^2 = 2 - 2cos, so
    ascending ADC order is descending cosine order. Approximate by
    construction -> rows-only driver check + recall/equivalence
    property tests, no SQL oracle."""
    import numpy as np
    import pandas as pd

    books = pq_codebooks(
        corpus, m, n_codes, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    C = np.array(books, dtype=np.float64)
    m_, _, d_sub = C.shape

    def luts(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(X, axis=1)
            U = X / norms[:, None]
            t = [
                [
                    ((U[i, s * d_sub : (s + 1) * d_sub] - C[s]) ** 2)
                    .sum(-1)
                    .tolist()
                    for s in range(m_)
                ]
                for i in range(len(X))
            ]
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col],
                    "q_vec": pdf[vec_col],
                    "luts": t,
                }
            )

    # q_norm via the same JVM sequential fold as every other serve path
    # (the numpy norm the LUT pass computes sums in a different order —
    # one ulp off the fold, which the bit-exact oracle gate of the
    # exhaustive operating point would see). Evaluated HERE, once per
    # query in the KB-sized broadcast frame — not per candidate pair in
    # the rerank, where the interpreted 64-element fold would run
    # cand_mult*k times per query (n times at the s23 exhaustive point).
    q = queries.select(id_col, vec_col).mapInPandas(
        luts,
        "query_id long, q_vec array<float>, luts array<array<double>>",
    ).withColumn("q_norm", norm(F.col("q_vec")))
    enc = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("luts"),
            lambda c, lut: F.element_at(lut, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "q_vec", "q_norm", "c_vec",
            "c_norm", adc.alias("adc"),
        )
    )
    wa = W.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cand = scored.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= cand_mult * k
    )
    exact = cand.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# -- Semantic dedup (cluster-blocked near-dup keep-one) --------------------


def ivfpq_build(
    corpus: DataFrame,
    *,
    n_cells: int | None = None,
    n_probe: int | None = None,
    m: int = 8,
    n_codes: int = 256,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """Build the IVFADC index (see ``ivfpq_topk``): train the coarse
    IVF centroids, PQ codebooks on the residuals, and encode the
    corpus in one Arrow pass. Returns ``(index_df, params)`` — the
    index is a plain DataFrame (neighbor_id, c_vec, c_norm, cell,
    codes) to persist once and serve many query batches; ``params``
    carries the KB-sized centroid/codebook tables plus the default
    ``n_probe``."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    n = corpus.count()
    if n_cells is None:
        n_cells = max(8, int(math.sqrt(n)))  # the r6 sqrt-n balance law
    if n_probe is None:
        n_probe = max(4, n_cells // 8)
    cents = ivf_centroids(
        corpus, n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    Cc = np.array(cents, dtype=np.float64)  # (cells, dim)
    asg = ivf_assign_frame(
        corpus.select(id_col, vec_col), cents, vec_col=vec_col
    )

    # train the PQ codebooks on residuals (normalize=False: residual
    # magnitude IS the signal)
    resid_schema = T.StructType(
        list(asg.schema.fields)
        + [T.StructField("resid", T.ArrayType(T.DoubleType()))]
    )

    def with_resid(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            R = X - Cc[pdf["cell"].to_numpy()]
            pdf = pdf.copy()
            pdf["resid"] = list(R.tolist())
            yield pdf

    books = pq_codebooks(
        asg.mapInPandas(with_resid, resid_schema),
        m,
        n_codes,
        n_iter=n_iter,
        id_col=id_col,
        vec_col="resid",
        normalize=False,
    )
    enc = _ivfpq_encode_pass(asg, cents, books, id_col=id_col, vec_col=vec_col)
    return enc, {
        "centroids": cents,
        "codebooks": books,
        "n_probe": n_probe,
    }


def _ivfpq_encode_pass(
    asg: DataFrame,
    cents: list,
    books: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual-PQ encode of a cell-assigned frame into IVFADC index
    rows — one Arrow pass. Shared by ``ivfpq_build`` (full corpus) and
    ``ivfpq_append`` (the increment), so appended rows are
    byte-compatible with built rows by construction."""
    import numpy as np
    import pandas as pd

    Cc = np.array(cents, dtype=np.float64)
    C = np.array(books, dtype=np.float64)  # (m, n_codes, d_sub)
    m_, _, d_sub = C.shape

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            R = X - Cc[pdf["cell"].to_numpy()]
            codes = np.empty((len(X), m_), dtype=np.int32)
            for s in range(m_):
                Rs = R[:, s * d_sub : (s + 1) * d_sub]
                codes[:, s] = _sq_dist(Rs, C[s]).argmin(axis=1)
            # cumsum = the same sequential left-fold the JVM norm()
            # runs, so the exact rerank's cosines are bit-identical
            # to the brute-force path (what lets s19 sit under the
            # value-hash gate; np.linalg.norm differs in the last ulp)
            nrm = np.sqrt((X * X).cumsum(axis=1)[:, -1])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "c_vec": pdf[vec_col],
                    "c_norm": nrm,
                    "cell": pdf["cell"],
                    "codes": list(codes.tolist()),
                }
            )

    return asg.mapInPandas(
        encode,
        "neighbor_id long, c_vec array<float>, c_norm double, "
        "cell int, codes array<int>",
    )


def ivfpq_append(
    params: dict,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVFADC index maintenance, the compressed-index twin
    of ``ivf_append``: assign ONLY the new vectors to the frozen
    coarse centroids and residual-encode them against the frozen
    codebooks — O(increment), one parquet append, the stored index
    never read or rewritten. Centroids and codebooks are NOT
    retrained, so quantization error grows as the corpus drifts from
    the training distribution; the rebuild policy bounds that drift
    the same way it bounds the tombstone mask."""
    asg = ivf_assign_frame(
        new_vectors.select(id_col, vec_col),
        params["centroids"],
        vec_col=vec_col,
    )
    return _ivfpq_encode_pass(
        asg, params["centroids"], params["codebooks"],
        id_col=id_col, vec_col=vec_col,
    )


# ivfpq_query broadcasts the per-(query, probed-cell) ADC lookup tables
# only while they fit a budget; past it the join degrades to a cell-key
# shuffle-hash (LUT side builds executor-side, the encoded corpus
# streams). Module-level so tests can pin the degraded branch.
LUT_BROADCAST_BUDGET_BYTES = 256 << 20


def ivfpq_query(
    index: DataFrame,
    params: dict,
    queries: DataFrame,
    k: int = 5,
    *,
    n_probe: int | None = None,
    cand_mult: int = 40,
    exclude: DataFrame | None = None,
    nq: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a query batch from a prebuilt ``ivfpq_build`` index: per
    query, compute residual LUTs for the ``n_probe`` nearest cells,
    join the encoded corpus on the cell key, ADC-rank JVM-side, exact
    cosine rerank of the top ``cand_mult * k``.

    ``exclude``: tombstone mask of ``id_col`` values deleted since the
    index was built — broadcast-anti-joined out of the stored index
    (before both the ADC scan and the rerank read; see ``ivf_query``
    for the sizing contract).

    ``nq``: query-batch size hint. The broadcast-vs-distributed LUT
    decision needs the batch size at PLAN time; without the hint this
    function runs ``queries.count()`` eagerly (one extra job per
    serve call over the queries lineage) — pass ``nq`` on hot serve
    paths where the batch size is already known. The hint is trusted:
    an UNDERSTATED nq re-selects the broadcast branch for an oversized
    LUT frame and re-creates the driver maxResultSize/heap failure the
    sort-merge fallback exists to avoid — pass the real batch size or
    nothing."""
    import numpy as np
    import pandas as pd

    if nq is not None and nq <= 0:
        raise ValueError(f"nq hint must be a positive batch size, got {nq}")

    if exclude is not None:
        index = index.join(
            F.broadcast(
                exclude.select(F.col(id_col).alias("neighbor_id")).distinct()
            ),
            "neighbor_id",
            "left_anti",
        )
    cents = params["centroids"]
    books = params["codebooks"]
    if n_probe is None:
        n_probe = params["n_probe"]
    Cc = np.array(cents, dtype=np.float64)
    C = np.array(books, dtype=np.float64)
    m_, _, d_sub = C.shape

    def qluts(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(X, axis=1)
            near = np.argsort(_sq_dist(X, Cc), axis=1, kind="stable")[:, :n_probe]
            rows = []
            for i in range(len(X)):
                for cell in near[i]:
                    Rq = X[i] - Cc[cell]
                    lut = [
                        ((Rq[s * d_sub : (s + 1) * d_sub] - C[s]) ** 2)
                        .sum(-1)
                        .tolist()
                        for s in range(m_)
                    ]
                    rows.append(
                        (
                            int(pdf[id_col].iloc[i]),
                            int(cell),
                            lut,
                        )
                    )
            yield pd.DataFrame(rows, columns=["query_id", "cell", "luts"])

    # LUT frame carries ONLY (query_id, cell, luts): the ADC ranking
    # exchange below must stay narrow. Query vectors ride separately
    # and re-join the SHORTLIST (cand_mult*k rows/query), never the
    # full candidate stream — the pre-fix plan carried q_vec AND c_vec
    # (~550 B/candidate) through the rank exchange, which filled the
    # disk at a 1000-query batch on 2 M vectors.
    q = queries.select(id_col, vec_col).mapInPandas(
        qluts,
        "query_id long, cell int, luts array<array<double>>",
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("luts"),
            lambda c, lut: F.element_at(lut, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # The LUT frame weighs nq * n_probe * m * n_codes * 8 B — a
    # 1000-query batch at 2 M vectors (n_probe ~ n_cells/8 = 176) is
    # ~2.8 GB, which a broadcast must collect to the driver (measured:
    # killed by spark.driver.maxResultSize at the r10 batch rung).
    # Broadcast only under a budget; past it, SORT-MERGE join on the
    # cell key — the LUT frame shuffles distributed instead of
    # collecting, and SMJ's external sort SPILLS under memory
    # pressure where a shuffle-hash build cannot (measured at the
    # r10 batch rung: 32 concurrent ~90 MB LongToUnsafeRowMap builds
    # exhausted an 8 GB heap's execution pool — "Can't acquire
    # 134217728 bytes memory to build hash relation"). Per-cell match
    # groups stay small (corpus/cells rows x LUT rows), so the SMJ
    # right-side buffer is bounded.
    lut_bytes = (
        (queries.count() if nq is None else nq)
        * n_probe * C.shape[0] * C.shape[1] * 8
    )
    q_side = (
        F.broadcast(q)
        if lut_bytes <= LUT_BROADCAST_BUDGET_BYTES
        else q.hint("merge")
    )
    scored = (
        index.join(q_side, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    wa = W.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cand = (
        scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= cand_mult * k)
        .select("query_id", "neighbor_id")
    )
    # exact rerank of the bounded shortlist: vectors join back in —
    # the shortlist broadcasts (16 B/row x cand_mult*k per query), the
    # corpus side streams its probed rows, nothing wide ever shuffles
    exact = (
        index.select("neighbor_id", "c_vec", "c_norm")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_cells: int | None = None,
    n_probe: int | None = None,
    m: int = 8,
    n_codes: int = 256,
    n_iter: int = 3,
    cand_mult: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jegou et al. 2011): coarse IVF quantizer + product
    quantization of the RESIDUALS, the composition production ANN
    systems actually deploy — and the fix for the failure the r7
    recall harness measured on plain PQ. On near-random unit vectors
    (2 M at dim 64, true-neighbor cosine ~0.5 vs bulk ~0.45),
    whole-vector PQ's quantization error swamps the cosine gaps and
    ADC ranking degenerates to noise (measured recall@5 = 0.04).
    Quantizing residuals r = x - c(cell) shrinks the quantized
    spread to WITHIN-cell scale, restoring resolution:
    ||q - x||^2 = ||(q - c) - r||^2 exactly, up to r's quantization
    (measured recall@5 = 0.65 at n_probe = n_cells/8, 200k vectors —
    above both the LSH and exact-probed-IVF operating points).
    Defaults: sqrt-n cells, n_cells/8 probes (~12% of the corpus
    ADC-scanned, never exact-scanned), 3 Lloyd iterations,
    cand_mult*k exact reranks. One-shot composition of
    ``ivfpq_build`` + ``ivfpq_query`` (identical plans — the split
    exists so a served index amortizes the build).

    Scale shape: centroids and codebooks are KB-sized driver tables
    (trained by Arrow partial-sum passes, shuffles carry scalars);
    encoding is one Arrow pass; the search joins the encoded corpus to
    the exploded (query, probed-cell) frame ON THE CELL KEY — the
    per-query candidate set is n_probe cells, never the corpus — then
    ADC-ranks candidates JVM-side and exact-reranks the top
    ``cand_mult * k``. Approximate by construction -> rows-only driver
    check + recall property test."""
    index, params = ivfpq_build(
        corpus, n_cells=n_cells, n_probe=n_probe, m=m, n_codes=n_codes,
        n_iter=n_iter, id_col=id_col, vec_col=vec_col,
    )
    # ivfpq_query reads the index twice (ADC scoring + exact rerank).
    # A STORED index pays two parquet scans; this one-shot path would
    # re-run the whole-corpus encode lineage twice without a persist.
    return ivfpq_query(
        tracked_persist(index), params, queries, k, cand_mult=cand_mult,
        id_col=id_col, vec_col=vec_col,
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int | None = None,
    threshold: float = 0.9,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 250,
) -> DataFrame:
    """SemDeDup-shaped embedding dedup: cluster the corpus with the IVF
    coarse quantizer, find near-duplicate pairs ONLY within a cluster
    cell, and greedily keep the lowest id of every near-dup pair.
    Returns the surviving rows as (id, cell).

    Survivor rule: a vector is dropped iff some lower-id vector in its
    cell is within ``threshold`` cosine — so no surviving pair in the
    same cell is near-duplicate (every such pair's higher id was
    dropped), and the result is deterministic (no dependence on
    partition order; the quantizer's centroids are seeded + integer-
    accumulated).

    Scale shape: pair space is sum(|cell|^2), never n^2 — the cell id
    is the blocking key ``blocked_near_dup_pairs`` joins on; cross-cell
    near-dups are the accepted approximation (recall rises with fewer
    cells, cost falls with more — the SemDeDup trade). For that bound
    to mean anything, the cell COUNT must grow with the corpus: with a
    fixed ``n_cells``, sum(|cell|^2) is ~n^2/n_cells — still quadratic
    (measured: a hardcoded 8 cells turned a 10x corpus into a 40x
    runtime at sf1). But cell count must not grow LINEARLY either:
    nearest-centroid assignment costs n x n_cells x dim, so cells ~
    n/target_cell_size just moves the n^2 from the pair scan into the
    quantizer — the r6 ladder measured exactly that (s09 CPU 303 s ->
    11,692 s across sf30 -> sf100, 38x for 3.3x data, every second of
    it in the assignment matmul; the 8,000-centroid table also falls
    out of L2, so the constant factor cliffs too). Default
    ``n_cells=None`` therefore uses the canonical IVF balance,
    ``n_cells = sqrt(n)``: assignment n^1.5 x dim, pair space
    n x cell_size = n^1.5 — both sides sub-quadratic and equal, the
    optimum for this cost model (faiss's guidance is the same rule
    scaled by a constant). Small corpora keep the old sizing:
    ``n_cells = min(sqrt(n), n/target_cell_size)`` means cell size =
    max(sqrt(n), target_cell_size), so below target_cell_size^2
    vectors nothing changes and above it the balance law takes over.
    """
    if n_cells is None:
        n = corpus.count()
        n_cells = max(8, min(round(n**0.5), -(-n // target_cell_size) or 1))
    cents = ivf_centroids(corpus, n_cells)
    # Persisted: three consumers (both self-join legs of the pair
    # search + the survivor anti-join) would otherwise rescan the
    # corpus and recompute the cell assignment each — the d04
    # persisted-shingle-frame rule applied to embeddings.
    assigned = tracked_persist(
        ivf_assign_frame(
            corpus.select(id_col, vec_col), cents, vec_col=vec_col,
        )
    )
    pairs = blocked_near_dup_pairs_arrow(
        assigned, block_col="cell", threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cell")


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All corpus neighbors within a cosine radius of each query — the
    unbounded-k companion of ``topk_cosine`` (retrieval filters, recall
    sweeps, duplicate audits ask "everything above t", not "top k").

    Plan: identical scale shape to top-k — broadcast(queries) ⨯ one
    corpus scan, threshold applied before anything shuffles; the result
    is the only data that leaves the scan stage (no ranking window at
    all, so a selective threshold makes this CHEAPER than top-k).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def prefix_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    cand_mult: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style two-stage ANN: rank candidates by cosine over
    the first ``prefix_dim`` dimensions (cheap — a quarter of the
    fold), keep ``k * cand_mult`` per query, then exact full-dim
    rerank. With MRL-trained embeddings the prefix preserves ordering
    well; here it is the deterministic two-stage shape (both stages
    are exact arithmetic over fixed slices, so the whole operator is
    SQL-oracle-checkable, unlike LSH/IVF whose quality depends on
    index randomness).

    Scale shape: same broadcast-queries x one-corpus-scan plan as
    topk_cosine; the full-dim fold runs only on k*cand_mult rows per
    query instead of the corpus."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("q_pre"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("c_pre"),
    )
    pre_cos = dot(F.col("q_pre"), F.col("c_pre")) / (
        norm(F.col("q_pre")) * norm(F.col("c_pre"))
    )
    w_pre = W.partitionBy("query_id").orderBy(
        F.col("pre_sim").desc(), F.col("neighbor_id")
    )
    cands = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec", pre_cos.alias("pre_sim"))
        .withColumn("pre_rank", F.row_number().over(w_pre))
        .filter(F.col("pre_rank") <= k * cand_mult)
    )
    full_cos = dot(F.col("q_vec"), F.col("c_vec")) / (
        norm(F.col("q_vec")) * norm(F.col("c_vec"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.select("query_id", "neighbor_id", full_cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def incremental_semantic_dedup(
    hist: DataFrame,
    batch: DataFrame,
    threshold: float = 0.9,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Verdict a micro-batch of NEW embeddings against the existing
    corpus — the vector analog of ``incremental_lsh_dedup`` (d13):
    per batch vector, how many historical near-dups (cosine >=
    threshold), the best match by (cos desc, hist id asc), and a
    novelty flag. Returns one row per batch vector.

    Scale shape: the batch is a bounded ingest micro-batch, so it
    BROADCASTS and the corpus scans exactly once per batch — cost is
    |corpus| x |batch| scoring folds, linear in the corpus for
    bounded batches, with nothing but the per-batch-vector verdict
    leaving the scan stage. (For batch sizes past broadcast range,
    the IVF-blocked path — assign the batch to the corpus's cells and
    compare in-cell, s09's machinery — is the approximate scale
    valve; THIS operator is the exact contract a dedup gate wants for
    arrival-sized batches, and its exactness is what lets DuckDB
    value-check it.)

    Precondition mirrors d13: hist/batch ids disjoint, enforced with
    the same anti-join (batch side wins)."""
    hist = hist.join(batch.select(id_col), id_col, "left_anti")
    b = batch.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_norm"),
    )
    h = hist.select(
        F.col(id_col).alias("h_id"),
        F.col(vec_col).alias("h_vec"),
        norm(F.col(vec_col)).alias("h_norm"),
    )
    cos = dot(F.col("b_vec"), F.col("h_vec")) / (
        F.col("b_norm") * F.col("h_norm")
    )
    matches = (
        h.crossJoin(F.broadcast(b))
        .select("b_id", "h_id", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .groupBy("b_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max(
                F.struct(
                    F.col("cos").alias("c"), (-F.col("h_id")).alias("neg_id")
                )
            ).alias("best"),
        )
        .select(
            "b_id",
            "n_matches",
            (-F.col("best.neg_id")).alias("best_match_id"),
            F.col("best.c").alias("best_cos"),
        )
    )
    return (
        batch.select(F.col(id_col))
        .join(matches, F.col(id_col) == F.col("b_id"), "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "best_match_id",
            "best_cos",
            F.col("n_matches").isNull().alias("is_novel"),
        )
    )
