"""Property tests for the advanced/approximate operators: HLL error
bound, ANN recall, as-of strategy equivalence, stateful accumulation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table
from etl_notifier_pipeline_spark.extensions import similarity as S
from etl_notifier_pipeline_spark.operators.asof import asof_join

SF_DIR = "/root/testdata/sf0.001"


def test_approx_distinct_error_bound(spark):
    ev = load_table(spark, SF_DIR, "events")
    both = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= max(3, 0.05 * r["exact"])


def test_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.topk_cosine(emb, queries, k=5)
    approx = S.ann_lsh_topk(emb, queries, k=5, n_planes=3, n_tables=6)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # imperfect by design (random near-orthogonal vectors are LSH's
    # worst case) but must be far above chance (5/499 ≈ 1%).
    assert recall >= 0.5, f"ANN recall {recall:.2f} too low"
    # and every approx result must be a genuine corpus neighbor pair
    assert all(q != n for q, n in a)


def test_ivfpq_recall_vs_bruteforce(spark):
    """IVFADC: PQ on coarse-cell residuals — must beat flat PQ's
    operating point on the same near-orthogonal vectors (the regime
    where whole-vector quantization error swamps cosine gaps; see
    ANN_RECALL_sf100.json for the 2M-vector measurement)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.topk_cosine(emb, queries, k=5)
    approx = S.ivfpq_topk(
        emb, queries, k=5, n_cells=8, n_probe=4, n_codes=16, n_iter=2
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVFADC recall {recall:.2f} too low"
    assert all(q != n for q, n in a)
    counts = {}
    for q, _ in a:
        counts[q] = counts.get(q, 0) + 1
    assert all(c <= 5 for c in counts.values())


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.topk_cosine(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 3-of-8 cells probed on near-orthogonal random vectors: recall is
    # bounded by the probe fraction's neighborhood coverage; must stay
    # far above chance (5/499 ≈ 1%).
    assert recall >= 0.4, f"IVF recall {recall:.2f} too low"
    assert all(q != n for q, n in a)
    # every query returns at most k rows, all from probed cells
    counts = approx.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_ivf_full_probe_equals_bruteforce(spark):
    """n_probe == n_cells degenerates IVF to exact search — the
    recall-1.0 invariant that pins the rerank arithmetic to the
    brute-force baseline."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in S.topk_cosine(emb, queries, k=5).collect()}
    full = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in S.ivf_topk(emb, queries, k=5, n_cells=4, n_probe=4).collect()}
    assert full == exact


def test_asof_latest_match_and_tie_break(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 25, "e2"), (2, 5, "e3"), (3, 50, "e4")],
        ["k", "t", "ev"],
    )
    # (1, 20, "zz") ties (1, 20, "b") on timestamp: the deterministic
    # pick is the smallest value tuple, "b"
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b"), (1, 20, "zz"), (1, 30, "c"), (2, 7, "d")],
        ["k", "t", "val"],
    )
    # e1: latest right at t<=10 is (8,a); e2: tie at t=20 -> "b";
    # e3 (k=2,t=5): only right row is at t=7 > 5 -> no match;
    # e4: no k=3 rows at all -> no match
    expected = {("e1", "a"), ("e2", "b"), ("e3", None), ("e4", None)}
    got = {
        (r["ev"], r["val"])
        for r in asof_join(
            left,
            right.withColumnRenamed("t", "rt"),
            on=["k"],
            left_time="t",
            right_time="rt",
            right_values=["val"],
        ).collect()
    }
    assert got == expected


def test_asof_union_sort_preserves_duplicate_left_rows(spark):
    """The union-sort plan has no row-id mark; fully identical left
    rows must still each produce an output row."""
    left = spark.createDataFrame([(1, 10), (1, 10), (1, 10)], ["k", "t"])
    right = spark.createDataFrame([(1, 5, "x")], ["k", "rt", "val"])
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt",
        right_values=["val"],
    ).collect()
    assert len(out) == 3 and all(r["val"] == "x" for r in out)


def test_asof_union_sort_null_key_and_null_left_time(spark):
    """Join semantics under union_sort: a NULL key matches nothing on
    either side, and a NULL left_time sees no candidate — both keep
    NULL right-values, like an equi-join with a range predicate."""
    left = spark.createDataFrame(
        [(None, 10, "lnull"), (1, None, "tnull"), (1, 10, "ok")],
        "k int, t int, ev string",
    )
    right = spark.createDataFrame(
        [(None, 5, "rnull"), (1, 5, "x")], "k int, rt int, val string"
    )
    got = {
        (r["ev"], r["val"])
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="rt",
            right_values=["val"],
        ).collect()
    }
    assert got == {("lnull", None), ("tnull", None), ("ok", "x")}


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """Two files delivered as separate micro-batches must accumulate
    into one state per user, not reset."""
    import json

    from etl_notifier_pipeline_spark.streaming.stateful import running_user_totals

    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(json.dumps({"user_id": 1, "value": v}) for v in (1.0, 2.0))
    )
    (src / "b.json").write_text(
        "\n".join(json.dumps({"user_id": 1, "value": v}) for v in (3.0,))
    )
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_stateful")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_stateful").collect()
    final = max(rows, key=lambda r: r["n_events"])
    assert final["n_events"] == 3 and final["total_value"] == pytest.approx(6.0)
    assert len(rows) >= 2  # one emission per micro-batch


def test_median_matches_sorted_middle(spark):
    ev = load_table(spark, SF_DIR, "events")
    from etl_notifier_pipeline_spark.plans import get

    med = {
        r["event_type"]: r["median_value"]
        for r in get("q24_exact_median").fn(spark, SF_DIR).collect()
    }
    import statistics

    for etype in med:
        vals = [
            r["value"]
            for r in ev.filter(F.col("event_type") == etype).select("value").collect()
        ]
        assert med[etype] == pytest.approx(statistics.median(vals))


def test_approx_quantiles_error_bound(spark):
    """GK-sketch quantiles must land within rank-error accuracy of the
    exact percentiles (accuracy=10000 -> rank error <= n/10000)."""
    from etl_notifier_pipeline_spark.plans import get

    ev = load_table(spark, SF_DIR, "events")
    approx = {r["event_type"]: r for r in
              get("q39_approx_quantiles").fn(spark, SF_DIR).collect()}
    for etype, row in approx.items():
        vals = sorted(
            r["value"] for r in
            ev.filter(F.col("event_type") == etype).select("value").collect()
        )
        n = len(vals)
        import bisect

        for p, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            # the sketch returns a real sample; with ties its true rank
            # is an interval [lo, hi) — the bound holds if ANY rank in
            # the interval is within accuracy
            lo = bisect.bisect_left(vals, row[col])
            hi = bisect.bisect_right(vals, row[col])
            tol = max(2, n / 10000 * 2 + 1)
            assert lo - tol <= p * n <= hi - 1 + tol


def test_proration_sums_to_header_total_exactly(spark):
    """q72 invariant: per order, allocated cents sum EXACTLY to the
    header total in cents — the largest-remainder guarantee."""
    from etl_notifier_pipeline_spark.plans.tpch_extra2 import q72_proration

    alloc = q72_proration(spark, SF_DIR)
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("total_c"),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("alloc_sum")
    )
    bad = per_order.join(o, "l_orderkey").filter(
        F.col("alloc_sum") != F.col("total_c")
    )
    assert bad.count() == 0


def test_ewma_matches_python_recursion(spark):
    """q71 invariant: the Spark fold equals the literal recursive
    definition s_n = 0.5*x_n + 0.5*s_{n-1} computed driver-side."""
    from etl_notifier_pipeline_spark.plans.tpch_extra2 import q71_ewma_daily

    out = {
        r["event_type"]: r["ewma_final"]
        for r in q71_ewma_daily(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(10,2)"))
            .cast("double")
            .alias("v")
        )
        .collect()
    )
    series: dict[str, list[tuple[str, float]]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["v"]))
    for et, pairs in series.items():
        s = None
        for _, v in sorted(pairs):
            s = v if s is None else 0.5 * v + 0.5 * s
        assert out[et] == s, et


def test_pq_full_rerank_equals_bruteforce(spark):
    """cand_mult large enough to keep every corpus vector makes the
    exact rerank a brute-force pass — PQ must reproduce the baseline
    top-k exactly (pins codes/LUT/ADC plumbing AND the rerank
    arithmetic to the s01 fold contract)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in S.topk_cosine(emb, queries, k=5).collect()}
    full = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in S.pq_topk(emb, queries, k=5, cand_mult=100).collect()}
    assert full == exact


def test_pq_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.topk_cosine(emb, queries, k=5)
    approx = S.pq_topk(emb, queries, k=5)  # default cand_mult=4
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8x16 codebooks on random 64-dim vectors: 20-candidate rerank
    # should recover most true neighbors; must be far above chance.
    assert recall >= 0.5, f"PQ recall {recall:.2f} too low"
    assert all(q != n for q, n in a)


def test_pq_codes_shape_and_range(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = S.pq_codebooks(emb, m=8, n_codes=16, n_iter=1)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    enc = S.pq_encode(emb, books)
    row = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m_lo"),
        F.max(F.size("codes")).alias("m_hi"),
    ).collect()[0]
    assert row["m_lo"] == row["m_hi"] == 8
    assert 0 <= row["lo"] and row["hi"] <= 15


def test_hll_rollup_merge_lossless_and_close_to_exact(spark):
    """q77 invariants: the day-sketch union tracks the single-pass
    sketch within the 2% union band (strict estimate equality holds
    only in the sparse regime — past ~1k distincts the HLL_8 union
    gadget and the direct HLL_4 sketch transition modes differently,
    measured 0.4% apart at sf0.1), and the estimate sits within the
    sketch's error envelope of the exact distinct count."""
    from etl_notifier_pipeline_spark.plans.tpch_extra2 import (
        q77_hll_sketch_rollup,
    )

    rows = q77_hll_sketch_rollup(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["merged_near_direct"], r
        assert (
            abs(r["merged_est"] - r["direct_est"])
            <= max(2, 0.02 * r["exact"])
        ), r
        assert abs(r["merged_est"] - r["exact"]) <= max(3, 0.05 * r["exact"]), r


def test_hash_sample_estimate_unbiased_shape(spark):
    """q78 invariants: the sample is the deterministic hash subset
    (re-running picks the same rows), and scaled estimates land within
    a loose CI of the true totals at fixture scale."""
    from etl_notifier_pipeline_spark.plans.tpch_extra2 import (
        q78_hash_sample_estimate,
    )

    a = {tuple(r) for r in q78_hash_sample_estimate(spark, SF_DIR).collect()}
    b = {tuple(r) for r in q78_hash_sample_estimate(spark, SF_DIR).collect()}
    assert a == b
    o = load_table(spark, SF_DIR, "orders")
    true_n = o.count()
    est_n = sum(r[2] for r in a)
    # 1/16 Bernoulli-by-hash at n≈1500: ±40% envelope is generous but
    # catches a broken predicate (0 rows or all rows) instantly.
    assert 0.6 * true_n <= est_n <= 1.4 * true_n


def test_semantic_dedup_invariants(spark):
    """s09: (a) survivors+dropped partition the corpus; (b) NO two
    survivors in the same cell are near-duplicates (every near-dup
    pair's higher id was dropped); (c) with one cell the kept set
    equals the unblocked greedy-keep-one result."""
    from etl_notifier_pipeline_spark.catalog import load_table
    from etl_notifier_pipeline_spark.extensions import similarity as S

    emb = load_table(spark, SF_DIR, "embeddings")
    kept = S.semantic_dedup(emb, n_cells=4, threshold=0.9)
    kept_rows = kept.collect()
    n_total = emb.count()
    assert 0 < len(kept_rows) <= n_total
    # survivors carry their cell; re-running the pair search over the
    # survivors only must find nothing
    survivors = emb.join(kept.select("vec_id", "cell"), "vec_id")
    leftover = S.blocked_near_dup_pairs(
        survivors, block_col="cell", threshold=0.9
    ).count()
    assert leftover == 0
    # one cell == unblocked greedy-keep-one
    one_cell = {r["vec_id"] for r in S.semantic_dedup(emb, n_cells=1, threshold=0.9).collect()}
    import pyspark.sql.functions as F

    flat = emb.withColumn("blk", F.lit(0))
    pairs = S.blocked_near_dup_pairs(flat, block_col="blk", threshold=0.9)
    dropped = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    expect = {r["vec_id"] for r in emb.select("vec_id").collect()} - dropped
    assert one_cell == expect


def test_media_near_dup_finds_duplicate_content(spark):
    """xm03 composition invariant: two media rows with byte-identical
    content have identical deterministic features, so each ranks the
    other at cos_sim == 1.0."""
    import pyspark.sql.functions as F

    from etl_notifier_pipeline_spark.extensions import multimodal as MM
    from etl_notifier_pipeline_spark.extensions import similarity as S

    rows = [(1, "image", b"same-bytes"), (2, "image", b"same-bytes"),
            (3, "audio", b"other-bytes"), (4, "audio", b"third")]
    media = spark.createDataFrame(rows, "media_id long, modality string, content binary")
    feats = MM.extract_features(media, codec="fake")
    top = S.topk_cosine(feats, feats, k=1, id_col="media_id", vec_col="features")
    best = {r["query_id"]: (r["neighbor_id"], r["cos_sim"]) for r in top.collect()}
    assert best[1][0] == 2 and abs(best[1][1] - 1.0) < 1e-12
    assert best[2][0] == 1 and abs(best[2][1] - 1.0) < 1e-12


def test_count_min_guarantees(spark):
    """x32 CM invariants: estimate >= exact always (the one-sided CM
    error), and at fixture scale the top-token overestimate stays
    within eps*N of truth (eps ~ e/W)."""
    from etl_notifier_pipeline_spark.plans.ext_text import (
        x32_count_min_heavy_hitters,
    )

    rows = x32_count_min_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == 10
    import math

    from etl_notifier_pipeline_spark.catalog import load_table
    from etl_notifier_pipeline_spark.extensions import text as X
    import pyspark.sql.functions as F

    n_tokens = (
        load_table(spark, SF_DIR, "documents")
        .select(F.sum(X.token_count("text")).alias("n"))
        .collect()[0]["n"]
    )
    eps_bound = math.e / 64 * n_tokens
    for r in rows:
        assert r["cm_estimate"] >= r["exact_count"], r
        assert r["cm_estimate"] - r["exact_count"] <= eps_bound, r


def test_build_query_split_matches_one_shot(spark, tmp_path):
    """lsh/ivf/ivfpq build+query == the one-shot topk compositions,
    INCLUDING an index round-trip through parquet (the serve-from-
    stored-index path the ANN break-even bench amortizes builds
    over)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 6)

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in df.collect()
        )

    # LSH
    idx, params = S.lsh_build(emb, n_planes=3, n_tables=6)
    p = str(tmp_path / "lsh_idx")
    idx.write.parquet(p)
    stored = spark.read.parquet(p)
    assert rows(S.lsh_query(stored, params, queries, k=5)) == rows(
        S.ann_lsh_topk(emb, queries, k=5, n_planes=3, n_tables=6)
    )
    # IVF
    idx, params = S.ivf_build(emb, n_cells=8)
    p = str(tmp_path / "ivf_idx")
    idx.write.parquet(p)
    stored = spark.read.parquet(p)
    assert rows(S.ivf_query(stored, params, queries, k=5, n_probe=3)) == rows(
        S.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)
    )
    # IVFADC
    idx, params = S.ivfpq_build(emb, n_cells=16, n_probe=4, m=8, n_codes=16)
    p = str(tmp_path / "ivfpq_idx")
    idx.write.parquet(p)
    stored = spark.read.parquet(p)
    assert rows(
        S.ivfpq_query(stored, params, queries, k=5, cand_mult=40)
    ) == rows(
        S.ivfpq_topk(
            emb, queries, k=5, n_cells=16, n_probe=4, m=8, n_codes=16,
            cand_mult=40,
        )
    )


def test_ivf_query_tombstone_mask(spark, tmp_path):
    """ivf_query(exclude=...) serves deletes from a STORED index:
    (a) no tombstoned id ever appears as a neighbor, (b) at full probe
    the masked serve == brute force over corpus-minus-deleted (exact
    equivalence, not just exclusion), (c) an empty mask is a no-op."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 6)
    deleted = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in df.collect()
        )

    idx, params = S.ivf_build(emb, n_cells=8)
    p = str(tmp_path / "ivf_idx_tomb")
    idx.write.parquet(p)
    stored = spark.read.parquet(p)

    got = rows(
        S.ivf_query(stored, params, queries, k=5, n_probe=8, exclude=deleted)
    )
    dead = {r["vec_id"] for r in deleted.collect()}
    assert dead and not {n for (_, _, n) in got} & dead
    assert got == rows(
        S.topk_cosine(emb.filter(F.col("vec_id") % 5 != 2), queries, k=5)
    )
    empty = deleted.limit(0)
    assert rows(
        S.ivf_query(stored, params, queries, k=5, n_probe=8, exclude=empty)
    ) == rows(S.ivf_query(stored, params, queries, k=5, n_probe=8))

    # LSH: per-vector bucket ids depend only on the seeded hyperplanes,
    # so masking the stored index must equal an index REBUILT on the
    # corpus-minus-deleted with the same planes.
    lidx, lparams = S.lsh_build(emb, n_planes=3, n_tables=6)
    lp = str(tmp_path / "lsh_idx_tomb")
    lidx.write.parquet(lp)
    lstored = spark.read.parquet(lp)
    got_lsh = rows(S.lsh_query(lstored, lparams, queries, k=5, exclude=deleted))
    assert not {n for (_, _, n) in got_lsh} & dead
    assert got_lsh == rows(
        S.ann_lsh_topk(
            emb.filter(F.col("vec_id") % 5 != 2), queries, k=5,
            n_planes=3, n_tables=6,
        )
    )

    # IVFADC: the mask must gate BOTH index reads (ADC scan + exact
    # rerank) — pinned against filtering the index frame by hand.
    pidx, pparams = S.ivfpq_build(emb, n_cells=16, n_probe=16, m=8, n_codes=16)
    pp = str(tmp_path / "ivfpq_idx_tomb")
    pidx.write.parquet(pp)
    pstored = spark.read.parquet(pp)
    got_pq = rows(
        S.ivfpq_query(pstored, pparams, queries, k=5, cand_mult=40,
                      exclude=deleted)
    )
    assert not {n for (_, _, n) in got_pq} & dead
    dead_lit = sorted(dead)
    assert got_pq == rows(
        S.ivfpq_query(
            pstored.filter(~F.col("neighbor_id").isin(dead_lit)),
            pparams, queries, k=5, cand_mult=40,
        )
    )


def test_ivf_append_parquet_lifecycle(spark, tmp_path):
    """ivf_append grows a STORED index with one parquet append (the
    existing files are never read or rewritten): build on 2/3 of the
    corpus, append the rest, reload — at full probe the grown index
    must serve exactly brute force over the whole corpus, and the
    appended rows must be byte-compatible with built rows (same
    schema, same assign arithmetic)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    initial = emb.filter(F.col("vec_id") % 3 != 0)
    late = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") < 6)

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in df.collect()
        )

    idx, params = S.ivf_build(initial, n_cells=8)
    p = str(tmp_path / "ivf_grow")
    idx.write.parquet(p)
    n_initial = spark.read.parquet(p).count()
    S.ivf_append(params, late).write.mode("append").parquet(p)
    stored = spark.read.parquet(p)
    assert stored.count() == emb.count() > n_initial
    assert rows(S.ivf_query(stored, params, queries, k=5, n_probe=8)) == (
        rows(S.topk_cosine(emb, queries, k=5))
    )

    # LSH twin: bucket ids are per-vector functions of the seeded
    # planes, so append == build-on-increment; the grown stored index
    # must serve identically to a from-scratch build on everything
    lidx, lparams = S.lsh_build(initial, n_planes=3, n_tables=6)
    lp = str(tmp_path / "lsh_grow")
    lidx.write.parquet(lp)
    S.lsh_append(lparams, late).write.mode("append").parquet(lp)
    lstored = spark.read.parquet(lp)
    full_idx, _ = S.lsh_build(emb, n_planes=3, n_tables=6)
    assert rows(S.lsh_query(lstored, lparams, queries, k=5)) == rows(
        S.lsh_query(full_idx, lparams, queries, k=5)
    )

    # IVFADC twin: frozen centroids AND codebooks encode the
    # increment; at full probe + exhaustive rerank the grown index
    # serves exactly brute force over everything
    pidx, pparams = S.ivfpq_build(initial, n_cells=8, n_probe=8, m=8,
                                  n_codes=16)
    pp = str(tmp_path / "ivfpq_grow")
    pidx.write.parquet(pp)
    S.ivfpq_append(pparams, late).write.mode("append").parquet(pp)
    pstored = spark.read.parquet(pp)
    assert pstored.count() == emb.count()
    n = emb.count()
    assert rows(
        S.ivfpq_query(pstored, pparams, queries, k=5, n_probe=8,
                      cand_mult=max(40, -(-n // 5)), nq=6)
    ) == rows(S.topk_cosine(emb, queries, k=5))
