"""Hypothesis property tests (SURVEY §5 strategy): algebraic laws of
the mutation operators, a union-find reference model for the
connected-components operator and DuckDB's ``ASOF LEFT JOIN`` as the
reference for the as-of join, over randomized inputs.

Spark jobs per example are real, so example counts are small and the
hypothesis deadline is disabled — these are law checks, not fuzzing
for throughput.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_notifier_pipeline_spark.extensions.dedup import dedup_clusters
from etl_notifier_pipeline_spark.operators import (
    delete_by_keys,
    insert_if_absent,
    upsert,
)
from etl_notifier_pipeline_spark.operators.asof import asof_join

SETTINGS = dict(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 99), st.integers(0, 999)),
    min_size=0,
    max_size=12,
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=15,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v int, ord int") if rows else (
        spark.createDataFrame([], "k int, v int, ord int")
    )


@settings(**SETTINGS)
@given(target=rows_strategy, incoming=rows_strategy)
def test_insert_if_absent_laws(spark, target, incoming):
    t, i = _df(spark, target), _df(spark, incoming)
    once = insert_if_absent(t, i, ["k"], ["ord", "v"])
    # law 1: target rows survive verbatim
    t_rows = set(map(tuple, t.collect()))
    once_rows = set(map(tuple, once.collect()))
    assert t_rows <= once_rows
    # law 2: keys(result) == keys(target) ∪ keys(incoming)
    assert {r["k"] for r in once.collect()} == (
        {r[0] for r in target} | {r[0] for r in incoming}
    )
    # law 3: idempotency
    twice = insert_if_absent(once, i, ["k"], ["ord", "v"])
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


@settings(**SETTINGS)
@given(target=rows_strategy, incoming=rows_strategy)
def test_upsert_laws(spark, target, incoming):
    t, i = _df(spark, target), _df(spark, incoming)
    out = upsert(t, i, ["k"], ["ord", "v"])
    out_rows = list(map(tuple, out.collect()))
    # exactly one row per incoming key, and it is the max-(ord,v) row
    inc_by_key: dict[int, list] = {}
    for k, v, o in incoming:
        inc_by_key.setdefault(k, []).append((k, v, o))
    for k, rows in inc_by_key.items():
        expect = max(rows, key=lambda r: (r[2], r[1]))
        got = [r for r in out_rows if r[0] == k]
        assert got == [expect]
    # non-incoming target keys survive untouched
    for k, v, o in target:
        if k not in inc_by_key:
            assert (k, v, o) in out_rows


@settings(**SETTINGS)
@given(target=rows_strategy, keys=st.lists(st.integers(0, 9), max_size=6))
def test_delete_by_keys_laws(spark, target, keys):
    t = _df(spark, target)
    kdf = spark.createDataFrame([(k,) for k in keys], "k int") if keys else (
        spark.createDataFrame([], "k int")
    )
    out = list(map(tuple, delete_by_keys(t, kdf, ["k"]).collect()))
    assert all(r[0] not in set(keys) for r in out)
    assert sorted(out) == sorted(
        (k, v, o) for k, v, o in target if k not in set(keys)
    )


def _reference_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**SETTINGS)
@given(edges=edges_strategy)
def test_dedup_clusters_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == _reference_components(edges)


@settings(**SETTINGS)
@given(
    tokens=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3),
        min_size=1,
        max_size=30,
    ),
    window=st.integers(min_value=1, max_value=6),
    stride=st.integers(min_value=1, max_value=6),
)
def test_chunk_windows_cover_and_reconstruct(spark, tokens, window, stride):
    """Chunk starts are exactly 0, stride, ... < n; each chunk is the
    exact token slice; coverage is total iff stride <= window (stride
    > window is sampling mode and skips inter-window tokens by
    design); stride == window reconstructs the doc by plain
    concatenation."""
    from etl_notifier_pipeline_spark.extensions.text import chunk_token_windows

    text = " ".join(tokens)
    rows = sorted(
        chunk_token_windows(
            spark.createDataFrame([(1, text)], ["doc_id", "text"]),
            window=window,
            stride=stride,
        ).collect(),
        key=lambda r: r.chunk_idx,
    )
    n = len(tokens)
    starts = [r.chunk_idx * stride for r in rows]
    assert starts == list(range(0, n, stride))
    for r in rows:
        got = r.chunk_text.split(" ") if r.chunk_text else []
        assert got == tokens[r.chunk_idx * stride : r.chunk_idx * stride + window]
    covered = set()
    for r in rows:
        covered.update(range(r.chunk_idx * stride, r.chunk_idx * stride + r.chunk_tokens))
    want = {
        p
        for s in range(0, n, stride)
        for p in range(s, min(s + window, n))
    }
    assert covered == want
    if stride <= window:
        assert covered == set(range(n))  # overlap mode covers every token
    if stride == window:
        reconstructed = " ".join(r.chunk_text for r in rows if r.chunk_text)
        assert reconstructed == text


pack_strategy = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 40)),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],
)


@settings(**SETTINGS)
@given(
    docs=pack_strategy,
    block=st.integers(2, 19),
    group_size=st.integers(1, 64),
)
def test_block_pack_spans_laws(spark, docs, block, group_size):
    """Laws of the fixed-block packer over random corpora:
    conservation (per-doc span tokens == n), stream tiling (every
    block full except the last), contiguity of offsets, and
    decomposition-invariance (group_size never changes the result)."""
    from etl_notifier_pipeline_spark.extensions.sampling import (
        block_pack_spans,
    )

    df = spark.createDataFrame(docs, "doc_id long, n long")
    out = block_pack_spans(df, "doc_id", "n", block=block, group_size=group_size)
    rows = out.collect()
    expect = {k: n for k, n in docs if n > 0}
    total = sum(expect.values())
    # conservation per doc
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tokens_in_block
        assert 0 <= r.offset_in_block < block
        assert 1 <= r.tokens_in_block <= block
    assert per_doc == expect
    # tiling: block b holds exactly `block` tokens for b < last
    per_blk: dict[int, int] = {}
    for r in rows:
        per_blk[r.block_id] = per_blk.get(r.block_id, 0) + r.tokens_in_block
    if total:
        n_blocks = -(-total // block)
        assert set(per_blk) == set(range(n_blocks))
        for b, got in per_blk.items():
            assert got == (block if b < n_blocks - 1 else total - block * (n_blocks - 1))
    # decomposition invariance
    ref = block_pack_spans(df, "doc_id", "n", block=block, group_size=10**6)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))


asof_keys = st.one_of(st.none(), st.integers(0, 3))


@settings(**{**SETTINGS, "max_examples": 10})
@given(
    left=st.lists(st.tuples(asof_keys, st.integers(0, 6)), max_size=12),
    # dict keys make right times unique per key: "latest" is unambiguous
    # on both engines
    right=st.dictionaries(
        st.tuples(asof_keys, st.integers(0, 6)), st.integers(0, 99), max_size=10
    ),
)
def test_asof_join_matches_duckdb(spark, left, right):
    """Differential test against DuckDB's native ASOF LEFT JOIN: NULL
    keys on both sides, duplicate left rows, no NULL times (DuckDB
    matches a NULL left time to a right row; SQL comparison does not).
    NULL-time and tie-break behaviour are pinned by literal tests in
    tests/test_advanced.py and tests/test_scale_fixes.py."""
    import duckdb
    import pyarrow as pa

    r_rows = [(k, rt, v) for (k, rt), v in right.items()]
    with duckdb.connect() as con:
        con.register("l", pa.table({
            "k": pa.array([k for k, _ in left], pa.int32()),
            "t": pa.array([t for _, t in left], pa.int32()),
        }))
        con.register("r", pa.table({
            "k": pa.array([k for k, _, _ in r_rows], pa.int32()),
            "rt": pa.array([rt for _, rt, _ in r_rows], pa.int32()),
            "val": pa.array([v for _, _, v in r_rows], pa.int32()),
        }))
        want = con.execute(
            "SELECT l.k, l.t, r.val FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND r.rt <= l.t"
        ).fetchall()
    got = asof_join(
        spark.createDataFrame(left, "k int, t int"),
        spark.createDataFrame(r_rows, "k int, rt int, val int"),
        on=["k"], left_time="t", right_time="rt", right_values=["val"],
    ).collect()

    def canon(rows):
        return sorted((tuple(r) for r in rows), key=repr)

    assert canon(got) == canon(want)
