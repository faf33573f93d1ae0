"""Property tests for similarity search: brute force must agree with a
NumPy reference; IVF must be internally consistent (its result equals
brute force restricted to the probed cells) and exact when probing every
cell; the Arrow/NumPy within-cell scorers must stay BIT-IDENTICAL to the
JVM fold + join/window forms they replaced, and must run in a Python
worker that cannot import this package.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.vectors import (
    dot,
    l2_norm,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
    _topk_prereduce,
    brute_force_topk,
    deterministic_centroids,
    ivf_assign,
    ivf_topk,
    ivfpq_topk,
    knn_graph_within_cells,
    lloyd_kmeans_fixed,
    pq_adc_topk,
    threshold_pairs_within_cells,
)
from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
    load_table,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(123)
    vecs = rng.standard_normal((100, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        vecs.astype(np.float64),
    )


def test_brute_force_matches_numpy(spark, emb):
    df, vecs = emb
    queries = df.filter(F.col("vec_id") < 3)
    got = brute_force_topk(df, queries, k=4).collect()
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        expected = list(np.argsort(-s, kind="stable")[:4])
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: (r.query_id, r.rank)) if r.query_id == q]
        assert mine == expected, f"query {q}: {mine} != {expected}"


def test_ivf_full_probe_equals_brute_force(spark, emb):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(df, queries, k=4)
    approx = ivf_topk(df, queries, n_cells=8, nprobe=8, k=4)  # probe ALL cells
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    a = {(r.query_id, r.rank): r.neighbor_id for r in approx.collect()}
    assert e == a


def test_ivf_partial_probe_is_consistent(spark, emb):
    """nprobe < n_cells: every returned neighbor must belong to a probed
    cell, ranks must be contiguous from 1, scores non-increasing."""
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 3)
    out = ivf_topk(df, queries, n_cells=8, nprobe=2, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_deterministic_centroids_are_stable(spark, emb):
    """Seeds are the n_cells lowest-id vectors, labeled by their own id
    (cells need distinct join keys, not dense 0..n-1), and stable across
    invocations.  Fixture ids are 0..99, so the seed ids are 0..7."""
    df, _ = emb
    c1 = deterministic_centroids(df, 8).collect()
    c2 = deterministic_centroids(df, 8).collect()
    assert sorted(r.cell_id for r in c1) == sorted(r.cell_id for r in c2) == list(range(8))


def test_centroid_seeding_has_no_global_window(spark, emb):
    """The seeding plan must be TakeOrderedAndProject (distributed partial
    top-k), never a row_number over an unpartitioned window (which funnels
    the whole corpus through one reducer)."""
    df, _ = emb
    plan = deterministic_centroids(df, 8)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bucketed_threshold_pairs_match_exact_on_near_dups(spark, emb):
    """Planted near-dups (tiny perturbations, cos >= ~0.99): the banded
    sign-LSH candidate path must return EXACTLY the pairs the O(n²)
    baseline returns — false positives are impossible by construction
    (exact verify), and the planted pairs' miss probability (~4e-8 at
    cos 0.95 with 16x4 banding, deterministic seeded planes) makes
    parity a stable assertion, not a flaky one."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        cosine_threshold_pairs,
        cosine_threshold_pairs_bucketed,
    )

    df, vecs = emb
    rng = np.random.default_rng(7)
    planted = vecs[:20] + 0.02 * rng.standard_normal((20, 16))
    rows = [(100 + i, [float(x) for x in planted[i]]) for i in range(20)]
    full = df.unionByName(
        df.sparkSession.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_threshold_pairs(full, threshold=0.9).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in cosine_threshold_pairs_bucketed(full, threshold=0.9).collect()
    }
    assert len(exact) >= 20  # every planted copy pairs with its original
    assert bucketed == exact


def test_bucketed_threshold_pairs_plan_has_no_cartesian(spark, emb):
    """The scale path's candidate join must be an equi-join on the band
    key — never a cartesian/nested-loop node (that is the whole point
    vs the exact baseline)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        cosine_threshold_pairs_bucketed,
    )

    df, _ = emb
    plan = (
        cosine_threshold_pairs_bucketed(df, threshold=0.6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rp_lsh_equals_bruteforce_on_probed_buckets(spark, sf_dir):
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        _rp_planes,
        brute_force_topk,
        rp_lsh_topk,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
    )
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 4)
    approx = rp_lsh_topk(e, queries, n_planes=8, dim=64, k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in approx.collect()}

    # mechanism: per query, result == exact ranking restricted to vectors
    # whose code is within Hamming distance 1 of the query's code
    planes = _rp_planes(8, 64)

    def ref_code(vec):
        """Bit j set iff the strict left-to-right float sum of
        vec * plane_j is > 0 (the JVM fold's order)."""
        code = 0
        for j, plane in enumerate(planes):
            acc = 0.0
            for x, w in zip(vec, plane):
                acc += x * w
            if acc > 0:
                code |= 1 << j
        return code

    coded = {r.vec_id: ref_code(r.embedding) for r in e.select("vec_id", "embedding").collect()}
    exact = brute_force_topk(e, queries, k=10_000)
    by_q = {}
    for r in exact.collect():
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        eligible = [
            r for r in sorted(rows, key=lambda r: r.rank)
            if bin(coded[r.neighbor_id] ^ coded[qid]).count("1") <= 1
        ]
        for i, r in enumerate(eligible[:3], start=1):
            assert got.get((qid, i)) == r.neighbor_id, (qid, i)


def test_kmeans_ivf_mechanism_and_codebook_shape(spark, emb):
    """Trained-codebook IVF: centroids are reproducible (seeded fit on a
    deterministic sample), every cell id is a codebook id, and a full
    probe over the trained cells equals brute force (mechanism is
    seeding-independent)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        kmeans_centroids,
    )

    df, _ = emb
    cents = kmeans_centroids(df, n_cells=8)
    rows = cents.collect()
    assert sorted(r.cell_id for r in rows) == list(range(8))
    assert all(len(r.centroid) == len(rows[0].centroid) for r in rows)
    again = {r.cell_id: r.centroid for r in kmeans_centroids(df, n_cells=8).collect()}
    assert {r.cell_id: r.centroid for r in rows} == again  # seeded -> stable

    queries = df.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(df, queries, k=4)
    approx = ivf_topk(df, queries, n_cells=8, nprobe=8, k=4, centroids=cents)
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    a = {(r.query_id, r.rank): r.neighbor_id for r in approx.collect()}
    assert e == a


def test_threshold_pairs_lsh_query_yields_rows_at_fixture_scale(spark, sf_dir):
    """Rows tripwire for the driver's rows-only gate: the registered
    LSH threshold query must find pairs on the real fixture (7 true
    pairs >= 0.45 at sf0.001; per-pair recall ~0.956, so zero rows
    indicates a broken pipeline, not sampling luck)."""
    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        all_specs,
    )

    n = all_specs()["sim_threshold_pairs_lsh"].fn(spark, sf_dir).count()
    assert n > 0


def test_pq_encode_and_adc_match_numpy(spark, emb):
    """PQ codes = per-subspace argmax inner product vs the 16 lowest-id
    sub-codebooks (first-max tie-break), ADC score = sum of the chosen
    sub-dots — verified against an independent numpy implementation on
    the 100x16 fixture (m=4 subspaces of 4 dims)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        _pq_codebook_sql,
        pq_adc_topk,
        pq_encode,
    )

    df, vecs = emb
    m, sub, n_codes, k = 4, 4, 16, 5
    cb = vecs[:16]  # lowest-id vectors, position = code

    cb_sql = _pq_codebook_sql(df, n_codes, "vec_id", "embedding")
    codes = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, cb_sql, m, sub, "vec_id", "embedding").collect()
    }
    assert set(codes) == set(range(100))
    exp_codes = {}
    for i in range(100):
        exp_codes[i] = [
            int(np.argmax([vecs[i, s * sub:(s + 1) * sub] @ cb[c, s * sub:(s + 1) * sub]
                           for c in range(n_codes)]))
            for s in range(m)
        ]
    assert codes == exp_codes
    # every codebook vector's own sub-dot is maximal for SOME subspace
    # only by luck — but codes must always be dense indices in range
    assert all(0 <= c < n_codes for cs in codes.values() for c in cs)

    queries = df.filter(F.col("vec_id") < 4)
    out = pq_adc_topk(df, queries, n_codes=n_codes, m=m, k=k).collect()
    got = {(r.query_id, r.rank): (r.neighbor_id, r.adc_score) for r in out}
    assert len(out) == 4 * k
    for q in range(4):
        scores = {}
        for i in range(100):
            if i == q:
                continue
            scores[i] = sum(
                float(vecs[q, s * sub:(s + 1) * sub] @ cb[exp_codes[i][s], s * sub:(s + 1) * sub])
                for s in range(m)
            )
        order = sorted(scores, key=lambda i: (-scores[i], i))[:k]
        for rank, nid in enumerate(order, start=1):
            gnid, gscore = got[(q, rank)]
            assert gnid == nid
            assert abs(gscore - scores[nid]) < 1e-9
    # self never appears
    assert all(r.query_id != r.neighbor_id for r in out)


@pytest.mark.parametrize("scorer", [pq_adc_topk, ivfpq_topk], ids=["pq_adc", "ivfpq"])
def test_adc_rejects_dim_not_divisible_into_subspaces(spark, scorer):
    """6-wide vectors cannot split into m=4 subspaces: a ValueError,
    not an assert that ``python -O`` would strip."""
    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(6)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="dim 6 not divisible into 4 subspaces"):
        scorer(df, df, m=4)


@pytest.mark.parametrize(
    "scale_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_staged_sim_pq_adc_topk_vs_oracle(spark, scale_dir: str) -> None:
    """The STAGED r7 PQ/ADC query hash-matches its full index-replay
    DuckDB oracle at every fixture scale (driver t2-gate replica run
    early, same pattern as the staged JPEG/permissive queries)."""
    from tests.oracle import duckdb_connection, compare
    from end_to_end_data_engineering_project_with_databricks_spark.queries.similarity import (
        SIM_PQ_ADC_TOPK_ORACLE,
        sim_pq_adc_topk,
    )

    con = duckdb_connection(scale_dir)
    try:
        problems = compare(
            sim_pq_adc_topk(spark, scale_dir), con, SIM_PQ_ADC_TOPK_ORACLE
        )
    finally:
        con.close()
    assert not problems, "; ".join(problems)


def test_ivfpq_fullprobe_equals_pq_bruteforce(spark, emb):
    """nprobe == n_cells makes IVF-PQ score every vector, so it must
    equal the flat PQ/ADC scorer EXACTLY — pins the composition glue
    (assignment, cell join, LUT routing) with zero approximation slack."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        ivfpq_topk,
        pq_adc_topk,
    )

    df, _ = emb
    queries = df.filter(F.col("vec_id") < 4)
    full = ivfpq_topk(
        df, queries, n_cells=16, nprobe=16, n_codes=16, m=4, k=5
    )
    flat = pq_adc_topk(df, queries, n_codes=16, m=4, k=5)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.adc_score) for r in full.collect()}
    exp = {(r.query_id, r.rank): (r.neighbor_id, r.adc_score) for r in flat.collect()}
    assert got == exp and len(got) == 4 * 5


@pytest.mark.parametrize(
    "scale_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_staged_sim_ivfpq_topk_vs_oracle(spark, scale_dir: str) -> None:
    """The STAGED r7 IVF-PQ query hash-matches its full index-replay
    DuckDB oracle at every fixture scale."""
    from tests.oracle import duckdb_connection, compare
    from end_to_end_data_engineering_project_with_databricks_spark.queries.similarity import (
        SIM_IVFPQ_TOPK_ORACLE,
        sim_ivfpq_topk,
    )

    con = duckdb_connection(scale_dir)
    try:
        problems = compare(
            sim_ivfpq_topk(spark, scale_dir), con, SIM_IVFPQ_TOPK_ORACLE
        )
    finally:
        con.close()
    assert not problems, "; ".join(problems)


def test_pq_plan_shapes(spark, sf_dir):
    """Plan guards for the staged PQ family, mirroring the registry-wide
    hygiene the queries will enroll in at r7 registration:
    - pq_encode is a single NARROW projection — no shuffle (Exchange), no
      join, no Python in the encode path;
    - ivfpq_topk plans NO CartesianProduct, and its candidate scoring is
      a hash/sort-merge EQUI-join on cell_id (the broadcast probe/assign
      passes are BroadcastNestedLoopJoin over the bounded |Q| x n_cells /
      |corpus| x n_cells sides — the documented bounded class);
    - the flat pq_adc_topk scorer's only non-equi node is the bounded
      broadcast query-batch cartesian it shares with brute_force_topk."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        _pq_codebook_sql,
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.plans.inspect import (
        formatted_plan,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cb_sql = _pq_codebook_sql(e, 16, "vec_id", "embedding")
    enc_plan = formatted_plan(pq_encode(e, cb_sql, 8, 8))
    assert "Exchange" not in enc_plan, enc_plan
    assert not any(
        j in enc_plan for j in ("Join", "CartesianProduct")
    ), enc_plan
    assert "Python" not in enc_plan, enc_plan  # no UDF in the encode path

    q = e.filter(F.col("vec_id") < 8)
    ivfpq_plan = formatted_plan(ivfpq_topk(e, q))
    assert "CartesianProduct" not in ivfpq_plan
    assert any(
        j in ivfpq_plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), ivfpq_plan  # the cell_id candidate join is an equi-join

    flat_plan = formatted_plan(pq_adc_topk(e, q))
    assert "CartesianProduct" not in flat_plan  # broadcast BNLJ only


@pytest.mark.parametrize(
    "scale_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_lloyd_kmeans_ivf_vs_oracle(spark, scale_dir: str) -> None:
    """The trained-codebook IVF query hash-matches its full Lloyd-replay
    DuckDB oracle at every fixture scale (VERDICT r6 item 2: the last
    rows-only registry row became a full-replay oracle — the oracle
    re-derives the TRAINING loop, not just the probe)."""
    from tests.oracle import duckdb_connection, compare
    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        all_specs,
    )

    spec = all_specs()["sim_ivf_kmeans_topk"]
    assert spec.oracle is not None
    con = duckdb_connection(scale_dir)
    try:
        problems = compare(spec.fn(spark, scale_dir), con, spec.oracle)
    finally:
        con.close()
    assert not problems, "; ".join(problems)


def test_lloyd_kmeans_fixed_deterministic_and_trains(spark, emb):
    """Fixed-point Lloyd: (a) run-to-run identical centroids (the whole
    point — float k-means is partition-order-dependent, this is not);
    (b) the update actually moves centroids off their seed vectors (it
    TRAINS, it is not deterministic_centroids in disguise); (c) full
    probe over the trained cells equals brute force (mechanism is
    codebook-independent)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        deterministic_centroids,
        lloyd_kmeans_fixed,
    )

    df, _ = emb
    a = {r.cell_id: r.centroid for r in lloyd_kmeans_fixed(df, n_cells=8, iters=2, sample_bound=64).collect()}
    b = {r.cell_id: r.centroid for r in
         lloyd_kmeans_fixed(df.repartition(7), n_cells=8, iters=2, sample_bound=64).collect()}
    assert a == b  # partitioning-independent, bit-exact
    import math

    # quantized seed = what the trainer starts from; training must move
    # centroids beyond mere quantization
    seed = {
        r.cell_id: [math.floor(float(x) * 10000.0) / 10000.0 for x in r.centroid]
        for r in deterministic_centroids(df, 8).collect()
    }
    moved = sum(1 for cid in a if list(a[cid]) != seed[cid])
    assert moved >= 6, f"only {moved}/8 centroids moved — update not training"

    queries = df.filter(F.col("vec_id") < 3)
    cents = lloyd_kmeans_fixed(df, n_cells=8, iters=2, sample_bound=64)
    exact = brute_force_topk(df, queries, k=4)
    approx = ivf_topk(df, queries, n_cells=8, nprobe=8, k=4, centroids=cents)
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    g = {(r.query_id, r.rank): r.neighbor_id for r in approx.collect()}
    assert e == g


def _lloyd_cents(df, **params) -> dict:
    return {r.cell_id: list(r.centroid) for r in lloyd_kmeans_fixed(df, **params).collect()}


def _duck_lloyd_cents(con, **params) -> dict:
    """The ``cents`` CTE of the trained-index DuckDB replay."""
    from end_to_end_data_engineering_project_with_databricks_spark.queries.similarity import (
        _lloyd_index_ctes,
    )

    sql = f"WITH {','.join(_lloyd_index_ctes(**params))} SELECT cell_id, centroid FROM cents"
    return {int(c): list(v) for c, v in con.execute(sql).fetchall()}


#: Seeds 0 and 2 are the same vector, so every near-origin row ties
#: between cells 0 and 2: the tie must go to cell 0, leaving cell 2 empty.
_LLOYD_ROWS = [
    (0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 0.0]), (3, [0.1, 0.0]),
    (4, [0.0, 0.2]), (5, [0.9, 1.0]), (6, [1.2, 0.8]), (7, [0.05, 0.05]),
]


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _duck_lloyd_cents_on(rows, **params) -> dict:
    """:func:`_duck_lloyd_cents` over ``rows`` as the ``embeddings`` table."""
    import duckdb

    with duckdb.connect() as con:
        con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
        if rows:
            con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
        return _duck_lloyd_cents(con, **params)


@pytest.mark.parametrize("partitions", [None, 7])
def test_lloyd_kmeans_fixed_matches_duckdb_replay(spark, sf_dir, partitions):
    """The driver-side Lloyd fit equals the oracle's SQL replay bit for
    bit on the fixture embeddings, natively and repartitioned."""
    from tests.oracle import duckdb_connection

    e = load_table(spark, sf_dir, "embeddings")
    if partitions:
        e = e.repartition(partitions)
    con = duckdb_connection(sf_dir)
    try:
        for params in (
            dict(n_cells=16, iters=2, sample_bound=256),
            dict(n_cells=8, iters=3, sample_bound=64),
        ):
            got = _lloyd_cents(e, **params)
            assert len(got) == params["n_cells"]
            assert got == _duck_lloyd_cents(con, **params), params
    finally:
        con.close()


def test_lloyd_kmeans_fixed_ties_go_to_lowest_cell_and_empty_cells_keep_centroid(spark):
    rows = _LLOYD_ROWS + [(50, None)]  # a NULL outside the seeds and sample is never read
    params = dict(n_cells=3, iters=1, sample_bound=8)
    got = _lloyd_cents(_emb_df(spark, rows), **params)
    assert got == _duck_lloyd_cents_on(rows, **params)
    assert got[2] == [0.0, 0.0]  # empty after the tie-break: keeps its seed
    assert got[0] != [0.0, 0.0]  # took every tied row and moved


@pytest.mark.parametrize(
    "rows, params, n_out",
    [
        (_LLOYD_ROWS, dict(n_cells=3, iters=0, sample_bound=8), 3),
        (_LLOYD_ROWS, dict(n_cells=3, iters=2, sample_bound=0), 3),
        (_LLOYD_ROWS, dict(n_cells=20, iters=2, sample_bound=8), 8),
        ([], dict(n_cells=3, iters=2, sample_bound=8), 0),
    ],
    ids=["iters0", "no_sample", "cells_above_rows", "empty_corpus"],
)
def test_lloyd_kmeans_fixed_degenerate_inputs(spark, rows, params, n_out):
    df = _emb_df(spark, rows)
    out = lloyd_kmeans_fixed(df, **params)
    assert out.schema.simpleString() == "struct<cell_id:bigint,centroid:array<double>>"
    got = {r.cell_id: list(r.centroid) for r in out.collect()}
    assert len(got) == n_out
    assert got == _duck_lloyd_cents_on(rows, **params)
    if params["iters"] == 0 or params["sample_bound"] == 0:
        seeds = deterministic_centroids(df, params["n_cells"]).collect()
        assert got == {
            r.cell_id: [math.floor(x * 10000.0) / 10000.0 for x in r.centroid] for r in seeds
        }


@pytest.mark.parametrize(
    "rows",
    [
        _LLOYD_ROWS[:5] + [(5, None)] + _LLOYD_ROWS[6:],  # NULL vector in the sample
        [(0, [None, 0.0])] + _LLOYD_ROWS[1:],  # NULL element in a seed
    ],
    ids=["null_vector", "null_element"],
)
def test_lloyd_kmeans_fixed_rejects_nulls_it_reads(spark, rows):
    with pytest.raises(ValueError, match="NULL"):
        _lloyd_cents(_emb_df(spark, rows), n_cells=3, iters=1, sample_bound=8)


def test_lloyd_kmeans_fixed_raises_on_int64_overflow(spark):
    """Spark's ANSI long arithmetic raised here; NumPy int64 would wrap."""
    df = _emb_df(spark, _LLOYD_ROWS + [(8, [1e15, 0.0])])
    with pytest.raises(ArithmeticError, match="overflow int64"):
        _lloyd_cents(df, n_cells=3, iters=1, sample_bound=9)


def test_lloyd_kmeans_fixed_launches_at_most_three_jobs(spark, sf_dir):
    """Two bounded reads (seeds, sample) and nothing per iteration: a
    Spark-side Lloyd loop would launch ~12 jobs here."""
    e = load_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    group = "lloyd-kmeans-fixed-job-budget"
    sc.setJobGroup(group, "lloyd_kmeans_fixed")
    try:
        lloyd_kmeans_fixed(e, n_cells=16, iters=2, sample_bound=256)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs


def test_video_keyframe_ann_plan_shape(spark, sf_dir):
    """The video keyframe ANN capstone inherits ivfpq_topk's plan
    guarantees over the frame-descriptor corpus: no CartesianProduct
    anywhere, and candidate scoring stays an equi-join on cell_id."""
    from end_to_end_data_engineering_project_with_databricks_spark.plans.inspect import (
        formatted_plan,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.queries.multimodal import (
        mm_video_keyframe_ann,
    )

    plan = formatted_plan(mm_video_keyframe_ann(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), plan


def test_rerank_recall_dominates_adc(spark, sf_dir):
    """Exact re-ranking of the ADC top-20 can only help: every true
    top-5 neighbor that survives candidate generation is kept by the
    exact cosine re-rank, while plain IVF-PQ may misorder it out on ADC
    error — so recall@5(rerank) >= recall@5(plain IVF-PQ), query by
    query (plain's picks are a subset of rerank's candidate set)."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_rerank_topk,
        ivfpq_topk,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    truth = sets(brute_force_topk(e, queries, k=5))
    adc = sets(ivfpq_topk(e, queries, k=5))
    rer = sets(ivfpq_rerank_topk(e, queries, k_cand=20, k=5))
    assert set(rer) == set(truth)
    for qid, true_nb in truth.items():
        r_adc = len(adc.get(qid, set()) & true_nb)
        r_rer = len(rer.get(qid, set()) & true_nb)
        assert r_rer >= r_adc, (qid, r_rer, r_adc)


# ---------------------------------------------------------------------------
# Within-cell scoring kernel (operators/similarity._score_within_cells):
# knn_graph_within_cells and threshold_pairs_within_cells must stay
# BIT-IDENTICAL to the JVM fold + join/window forms they replaced —
# including the (score DESC, id ASC) tie-break and Spark's NaN-largest
# DESC ordering — on the fixture and on degenerate cells.
# ---------------------------------------------------------------------------


def _assigned(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_assign(e, deterministic_centroids(e, 16))


#: Hand-built cell layouts over 7 random 4-d vectors (vec_id = index).
_CELL_LAYOUTS = {
    "empty": [],
    "singletons": [0, 1, 2, 3, 4, 5, 6],
    "k_ge_cell": [0, 0, 1, 1, 1, 2, 2],  # cells of 2-3 members, k=3
    "zero_norm": [0, 0, 0, 0, 1, 1, 1],  # vec 0 is the zero vector
}


def _cell_case(spark, sf_dir, case):
    """(assigned, the rows the join-form reference may score): the
    reference leaves out the zero vector, whose 0/0 cosines the JVM
    join form cannot divide (ANSI DIVIDE_BY_ZERO)."""
    if case == "fixture":
        a = _assigned(spark, sf_dir)
        return a, a
    cells = _CELL_LAYOUTS[case]
    vecs = np.random.default_rng(5).standard_normal((len(cells), 4)).astype(np.float32)
    if case == "zero_norm":
        vecs[0] = 0.0
    a = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], c) for i, c in enumerate(cells)],
        "vec_id long, embedding array<float>, cell_id long",
    )
    return a, a.filter(F.col("vec_id") != 0) if case == "zero_norm" else a


def _knn_join_reference(assigned, k=3):
    """The pre-r14 join + window formulation (hoisted norms)."""
    a = assigned.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("src_vec"),
        l2_norm("embedding").alias("_sn"),
        "cell_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_vec"),
        l2_norm("embedding").alias("_nn"),
        "cell_id",
    )
    scored = (
        a.join(b, "cell_id")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select(
            "src_id",
            "nbr_id",
            (dot("src_vec", "nbr_vec") / (F.col("_sn") * F.col("_nn"))).alias("score"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@pytest.mark.parametrize("case", ["fixture", "empty", "singletons", "k_ge_cell"])
def test_knn_cell_scorer_bit_identical_to_join_window(spark, sf_dir, case):
    assigned, _ = _cell_case(spark, sf_dir, case)
    got = sorted(map(tuple, knn_graph_within_cells(assigned, k=3).collect()))
    ref = sorted(map(tuple, _knn_join_reference(assigned, k=3).collect()))
    assert got == ref  # including exact float64 score bits


@pytest.mark.parametrize(
    "case", ["fixture", "empty", "singletons", "k_ge_cell", "zero_norm"]
)
def test_threshold_cell_scorer_bit_identical_to_join(spark, sf_dir, case):
    """A zero-norm vector's pairs score NaN and are not emitted, so the
    scorer equals the join form over the other rows."""
    assigned, ref_rows = _cell_case(spark, sf_dir, case)
    a = ref_rows.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        l2_norm("embedding").alias("_na"),
        "cell_id",
    )
    b = ref_rows.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        l2_norm("embedding").alias("_nb"),
        "cell_id",
    )
    ref = sorted(
        map(
            tuple,
            a.join(b, "cell_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                "cell_id",
                (dot("vec_a", "vec_b") / (F.col("_na") * F.col("_nb"))).alias("score"),
            )
            .filter(F.col("score") >= 0.35)
            .collect(),
        )
    )
    got = sorted(
        map(tuple, threshold_pairs_within_cells(assigned, threshold=0.35).collect())
    )
    assert got == ref


def test_cell_scorer_nan_orders_largest_like_spark_desc(spark):
    """A zero-norm vector makes every cosine against it 0/0 = NaN.  The
    pre-r14 JVM join form CRASHED on such inputs (ANSI DIVIDE_BY_ZERO —
    it never reached an ordering decision), while DuckDB's IEEE
    division yields NaN; the NumPy scorer follows the IEEE/oracle
    semantics and must order NaN LARGEST (Spark's DESC convention, via
    np.where(isnan, inf) before the lexsort) so that degenerate scores
    rank deterministically."""
    rows = [
        (0, [0.0] * 4, 7),
        (1, [1.0, 0.0, 0.0, 0.0], 7),
        (2, [0.9, 0.1, 0.0, 0.0], 7),
        (3, [0.0, 1.0, 0.0, 0.0], 7),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cell_id long"
    )
    got = knn_graph_within_cells(assigned, k=2).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.src_id, {})[r.rank] = r
    # every non-degenerate source ranks its NaN partner first
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        if src != 0:
            # NaN is ranked first; pandas->Arrow emits the NaN double
            # as NULL (pandas' float null sentinel), which only arises
            # on inputs the old form could not process at all
            assert ranks[1].nbr_id == 0 and ranks[1].score is None, ranks[1]
    # the zero vector's own scores are all NaN; ties broken by id asc
    assert [by_src[0][k].nbr_id for k in (1, 2)] == [1, 2]


#: Runs in an isolated interpreter (``-I``, cwd = an empty directory):
#: the package must not be importable there, as on the workers of a
#: driver that put it on sys.path by hand.
_WORKER = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("end_to_end_data_engineering_project_with_databricks_spark") is None
fn, batch = pickle.loads(sys.stdin.buffer.read())
sys.stdout.buffer.write(pickle.dumps([o.to_dict("list") for o in fn(iter([batch]))]))
"""


def test_map_in_pandas_functions_run_without_the_package(spark, monkeypatch, tmp_path):
    """Every function the cell scorers and the top-k pre-reduction pass
    to ``mapInPandas`` unpickles and runs where this package cannot be
    imported, and gives the in-process result there.  No Spark job
    runs: the functions are captured while the plans are built."""
    import pickle
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle

    vecs = [[1.0, 0.0, 0.5], [0.9, 0.1, 0.4], [0.0, 1.0, 0.2], [0.8, 0.3, 0.6]]
    assigned = spark.createDataFrame(
        [(i, v, 7) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, cell_id long",
    )
    scored = spark.createDataFrame(
        [(0, 1, 0.5)], "query_id long, neighbor_id long, score double"
    )
    captured = []
    cls = type(assigned)
    orig = cls.mapInPandas

    def record(self, func, schema, *args, **kwargs):
        captured.append(func)
        return orig(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", record)
    knn_graph_within_cells(assigned, k=2)
    threshold_pairs_within_cells(assigned, threshold=0.5)
    _topk_prereduce(scored, 2)
    assert len(captured) == 3

    # one cell, members in reverse id order (the kernel id-sorts them)
    cell = pd.DataFrame(
        {
            "cell_id": [7],
            "_m": [[{"vec_id": i, "embedding": vecs[i]} for i in (3, 2, 1, 0)]],
        }
    )
    topk = pd.DataFrame(
        {"query_id": [0, 0, 0, 1], "neighbor_id": [1, 2, 3, 0], "score": [0.2, 0.9, 0.5, 0.1]}
    )
    for fn, batch in zip(captured, (cell, cell, topk)):
        here = [o.to_dict("list") for o in fn(iter([batch.copy()]))]
        assert here and len(next(iter(here[0].values()))) > 0, here
        run = subprocess.run(
            [sys.executable, "-I", "-c", _WORKER],
            input=cloudpickle.dumps((fn, batch)),
            cwd=tmp_path,
            capture_output=True,
            timeout=60,
        )
        assert run.returncode == 0, run.stderr.decode()
        assert pickle.loads(run.stdout) == here
