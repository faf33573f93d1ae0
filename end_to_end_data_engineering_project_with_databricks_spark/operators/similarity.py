"""Similarity search over embedding columns (``array<float>``).

North-star operator family (BASELINE.json): brute-force cosine top-k as
the exact baseline, IVF (inverted-file) cell-probing as the scale path.

Scale design:
- The query side is always broadcast (top-k searches run for a bounded
  query batch); the corpus side streams through executors — the plan is
  BroadcastNestedLoopJoin over |corpus| x |queries| with all math inside
  whole-stage codegen (functions/vectors.py), no Python in the row path.
- Per-query top-k uses ``row_number() <= k`` over a window partitioned by
  query id: one shuffle of (|corpus| x |queries|) scored rows, combinable.
- IVF cuts the scored candidate set by |probed cells| / |cells|: vectors
  are pre-assigned to their nearest centroid (an O(n x c) broadcast map
  pass done once, amortized), and each query scores only vectors in its
  ``nprobe`` nearest cells — the standard recall/throughput dial.
- One path per mechanism: every within-cell scorer (k-NN graph,
  SemDeDup threshold pairs) runs on the one Arrow/NumPy kernel
  :func:`_score_within_cells`; every sign-projection code (banded
  threshold LSH, ``rp_lsh_topk`` buckets) comes from :func:`rp_dots` +
  :func:`rp_band_structs_from_dots`; both PQ/ADC scorers share the
  :func:`_adc_index` prelude (codebook, LUT and score SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
)

#: Bounds for the self-sizing cell count (:func:`auto_n_cells`).
AUTO_CELLS_FLOOR = 16
AUTO_CELLS_CAP = 65_536
#: Divisor on isqrt(N) — the measured constant, not theory: the r12
#: sweeps (docs/SCALE.md round-12) timed the HNSW chain at 2k vectors
#: (16/22 cells best at 3.57 s; the bare isqrt's 44 costs +16%) and at
#: 60k vectors (48-96 cells cluster at ~25-31 s; the bare isqrt's 244
#: reads 46 s — nearly 2x worse).  isqrt(N)//4 lands inside BOTH
#: measured optima (16-after-clamp at 2k, 61 at 60k) while keeping the
#: √N exponent the growth audit verifies.
AUTO_CELLS_DIV = 4


def auto_n_cells(
    n_rows: int, floor: int = AUTO_CELLS_FLOOR, cap: int = AUTO_CELLS_CAP
) -> int:
    """Corpus-derived IVF cell count:
    ``clamp(isqrt(N) // AUTO_CELLS_DIV, floor, cap)``.

    The √N rule balances the two cost curves the growth audit measures
    (tests/test_scale_growth.py; docs/SCALE.md): per-query refine work
    is ~N/n_cells (cell size) while probe/hub work is ~n_cells, so
    n_cells ~ √N keeps both at ~√N — the standard IVF sizing.  The r11
    30× probe measured the failure of a FIXED knob (refine exponent
    0.898 at n_cells=16) and the counterfactual fix (35.5→29.0 s when
    n_cells rescales ~√N), so since r12 this derivation is the DEFAULT
    path of :func:`ivf_topk` and the HNSW search; an explicit
    ``n_cells`` stays available as the override.  The //4 constant is
    measured at both fixture and 30x scale (see AUTO_CELLS_DIV) —
    the bare isqrt overshoots the probe/hub curve at every scale
    actually timed.

    Deterministic integer algebra so the DuckDB oracles replay the
    derived value exactly (:func:`auto_cells_duck`): ``math.isqrt``
    equals ``FLOOR(SQRT(CAST(n AS DOUBLE)))`` for every n < 2^52
    because IEEE-754 sqrt is correctly rounded — a perfect square
    returns its exact root, and any other n has no integer within the
    half-ulp error band — so both engines compute the identical count
    (dividing the exact integer root by 4 stays exact in both)."""
    import math

    return min(cap, max(floor, math.isqrt(max(n_rows, 0)) // AUTO_CELLS_DIV))


def auto_cells_duck(
    src: str = "embeddings",
    floor: int = AUTO_CELLS_FLOOR,
    cap: int = AUTO_CELLS_CAP,
) -> str:
    """The DuckDB replay of :func:`auto_n_cells` over table/CTE ``src``
    — a scalar subquery usable in ``LIMIT (...)`` and projections."""
    return (
        f"(SELECT LEAST({cap}, GREATEST({floor}, "
        f"CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)"
        f" // {AUTO_CELLS_DIV})) FROM {src})"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Returns (query_id, neighbor_id, score, rank), rank 1..k, self-match
    excluded, ties broken on neighbor_id for determinism.

    Two-phase top-k: scoring happens JVM-side (bit-exact fold,
    functions/vectors.py), then a NARROW per-partition top-k
    pre-reduction via ``mapInPandas`` — pure row SELECTION, no float
    math, so exactness is untouched — cuts the |corpus| x |queries|
    scored rows down to (partitions x queries x k) candidates before
    the only shuffle; the final window ranks that tiny set.  Without
    the pre-reduction the full scored relation shuffles into
    |queries| partitions — at 100 TB that is the whole corpus funneled
    through a handful of reducers."""
    # norms hoisted out of the pair loop (r13): |q| is computed once per
    # query (broadcast side) and |c| once per corpus row instead of
    # inside every pair's cosine — dot/(qn*cn) combines the identical
    # IEEE doubles with the identical ops as the fused fold, so scores
    # are bit-equal while the interpreted fold work per pair drops 3x
    # (the fold is the per-pair cost; measured on the bench query:
    # 0.64 s -> ~0.35 s at sf0.1).
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            l2_norm(vec_col).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("_cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn"))).alias("score"),
        )
    )
    return ranked_topk(scored, k)


def _topk_prereduce(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """NARROW per-partition top-k pre-reduction via ``mapInPandas`` over a
    (query_id, neighbor_id, score) relation — pure row SELECTION, no float
    math, so exactness is untouched.  Cuts |corpus| x |queries| scored
    rows down to (partitions x queries x k) candidates before the only
    shuffle; shared by the brute-force and PQ/ADC scorers."""

    def _local_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cand = pdf if best is None else pd.concat((best, pdf))
            cand = cand.sort_values(
                ["query_id", score_col, "neighbor_id"],
                ascending=[True, False, True],
            )
            best = cand.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    return scored.mapInPandas(_local_topk, schema=scored.schema)


def ranked_topk(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """Per-partition pre-reduce + final window rank (1..k per query_id,
    score desc, neighbor_id tie-break) — the two-phase distributed top-k
    shared by every ANN scorer in this module."""
    candidates = _topk_prereduce(scored, k, score_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_threshold_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """All pairs above a cosine threshold (id_a < id_b).

    O(n²) scoring — correct as an exact baseline and for bounded inputs;
    the LSH/IVF paths below are the at-scale candidate generators."""
    # norms hoisted out of the quadratic loop (r13): each side's |v| is
    # computed once per row instead of inside every pair's cosine —
    # dot/(na*nb) is bit-equal to the fused fold (identical IEEE ops).
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("_na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    return (
        a.join(b, a.id_a < b.id_b)
        .select(
            "id_a",
            "id_b",
            (dot("va", "vb") / (F.col("_na") * F.col("_nb"))).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _planes_matrix_expr(n_planes: int, dim: int):
    """The ±1 plane matrix as ONE array<array<double>> literal, built
    from SQL text.  Building it element-wise (``F.array(*[F.lit(w) ...])``
    per plane) costs one py4j round trip per literal — ~4 s of pure
    driver latency at 64x64, billed on every query construction; a single
    ``F.expr`` ships one string and parses JVM-side in ~0.1 s.  Memoized:
    the matrix depends only on (n_planes, dim) and the fixed seed."""
    key = (n_planes, dim)
    if key not in _PLANES_EXPR_SQL:
        planes = _rp_planes(n_planes, dim)
        _PLANES_EXPR_SQL[key] = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{w}D" for w in p) + ")" for p in planes
            )
            + ")"
        )
    return F.expr(_PLANES_EXPR_SQL[key])


_PLANES_EXPR_SQL: dict[tuple[int, int], str] = {}


def rp_dots(vec_col, n_planes: int, dim: int):
    """All n_planes signed-projection dot products as one array<double>:
    a nested JVM-side fold (transform over the plane matrix, zip_with +
    aggregate per plane) — no UDF, no per-plane unrolled expression, so
    both the Python build cost and the Catalyst tree size stay O(1) in
    n_planes."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        _planes_matrix_expr(n_planes, dim),
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, w: x * w), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


def rp_band_structs_from_dots(dots_col, bands: int, rows_per_band: int):
    """Banded sign-LSH codes from a pre-materialized dots array: one
    (band, packed-bits) struct per band; bit j of band b is set iff
    dots[b*r+j] > 0.  Two vectors become candidates iff they agree on
    EVERY bit of at least one band (equi-join on the (band, bits)
    struct), the same banding scheme as the MinHash LSH text path
    (operators/dedup.py).  Takes the DOTS column, not the vector: the
    dots array is referenced bands*rows times, so the caller materializes
    it in its own projection (the ``_sh`` pattern from
    operators/dedup.py) to stop CollapseProject from inlining the
    n_planes-fold per reference."""
    if not isinstance(dots_col, str):
        raise TypeError("rp_band_structs_from_dots takes the dots COLUMN NAME")
    # One JVM-parsed string, not bands*rows_per_band unrolled py4j ops
    # (same build-latency fix as the plane-matrix literal above).  Band
    # and bit indices stay LITERALS so the dots column is referenced
    # bands*rows times textually — multi-reference keeps CollapseProject
    # from inlining the n_planes-fold projection into each band (see
    # operators/dedup.minhash_signatures for the measured regression).
    structs = ",".join(
        "named_struct('band', {b}, 'bv', {bits})".format(
            b=b,
            bits=" + ".join(
                f"(CASE WHEN element_at({dots_col}, {b * rows_per_band + j + 1}) > 0D"
                f" THEN {1 << j} ELSE 0 END)"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def cosine_threshold_pairs_bucketed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.6,
    n_planes: int = 64,
    bands: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Cosine-threshold pairs at scale: banded sign-LSH candidate
    generation + exact cosine verification.

    The candidate join is an equi-join on (band, band-bits) — never a
    theta/cross join — so Catalyst shuffles both sides on the band key:
    the same 100 TB shape as the MinHash text dedup.  Every candidate is
    then scored with the exact bit-reproducible cosine fold, so FALSE
    POSITIVES ARE IMPOSSIBLE; the approximation is one-sided (a
    qualifying pair missed only if all ``bands`` bands differ).  With 16
    bands x 4 bits, P(miss) for a pair at cosine s is
    (1 - (1 - theta/pi)^4)^16 where theta = arccos(s): ~1% at s=0.6 and
    ~4e-8 at s=0.95 — near-dup pairs (the use case) are essentially never
    missed, and tests/test_similarity_ops.py verifies parity with the
    exact baseline on planted near-dups.  For exhaustive low-threshold
    joins (pairs near the random-noise floor) use
    :func:`cosine_threshold_pairs` on a bounded slice instead — no
    sublinear candidate generator can capture noise-level correlations
    exactly.
    """
    rows_per_band = n_planes // bands
    if dim is None:  # one-row probe job; pass dim to skip it
        dim = _vector_dim(corpus, vec_col)
    # band join carries (id, band, bits) only — the wide shuffle stays
    # narrow; vectors re-join on the (vanishingly small) candidate set.
    # The dots array gets its own projection (barrier) so the plane fold
    # runs once per row, not once per band reference.
    dotted = corpus.select(
        F.col(id_col).alias("_id"), rp_dots(vec_col, n_planes, dim).alias("_dots")
    )
    # Materialize the band rows BEFORE the self-join: both sides
    # reference this subtree, and without a materialization point Spark
    # re-plans (and re-computes) the whole plane-fold pipeline once per
    # side (the same 2x measured on the MinHash twin,
    # operators/dedup.lsh_candidate_pairs).  One (id, band, bits) row
    # per band per vector — the in-plan form of a persisted sign-LSH
    # index; checkpoint blocks are freed by the context cleaner.
    coded = (
        dotted.select(
            "_id",
            F.explode(
                rp_band_structs_from_dots("_dots", bands, rows_per_band)
            ).alias("b"),
        )
        .select("_id", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
        .localCheckpoint(eager=True)
    )
    left = coded.select(F.col("_id").alias("id_a"), "band", "bv")
    right = coded.select(F.col("_id").alias("id_b"), "band", "bv")
    cands = (
        left.join(right, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    # verify-side norms hoisted (r13): |v| once per corpus row instead
    # of inside every candidate's cosine — dot/(na*nb) is bit-equal to
    # the fused fold (identical IEEE ops on identical operands).
    vecs = corpus.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vec"),
        l2_norm(vec_col).alias("_vn"),
    )
    a = vecs.select(
        F.col("_vid").alias("id_a"), F.col("_vec").alias("va"), F.col("_vn").alias("_na")
    )
    b = vecs.select(
        F.col("_vid").alias("id_b"), F.col("_vec").alias("vb"), F.col("_vn").alias("_nb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot("va", "vb") / (F.col("_na") * F.col("_nb"))).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row (metadata-sized action; the embedding
    tables carry fixed-width vectors)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine).

    Broadcast the centroid table, score all cells per vector, keep the
    argmax via a window — one narrow map + one small shuffle.  At 100 TB
    this output is written once, bucketed by cell_id, and reused by every
    subsequent query batch."""
    # r13 perf, twice over (bit-identical argmax, verified vs the
    # window form on the fixtures):
    # 1. Norms are computed ONCE per vector and once per centroid
    #    instead of inside every pair's cosine — the interpreted
    #    zip_with+aggregate fold is the per-pair cost, and
    #    dot/(vnorm*cnorm) with hoisted norms is the same three IEEE
    #    doubles combined by the same ops, so scores are bit-equal while
    #    the fold work per pair drops 3x.
    # 2. The argmax is a max_by aggregate instead of a row_number
    #    window: the scored rows for a vector are produced consecutively
    #    by one task (corpus x broadcast), so partial aggregation
    #    collapses n_cells rows to ONE per vector BEFORE the exchange —
    #    the shuffle carries |corpus| rows instead of
    #    |corpus| x n_cells rows each dragging the full embedding
    #    (measured at sf0.1/35 cells: 380 MB -> 11 MB shuffled,
    #    assign 0.9 s -> ~0.3 s).  The (cscore DESC, cell_id ASC)
    #    tie-break is preserved as max over (cscore, -cell_id) —
    #    cell_ids are non-negative vector ids, and Spark orders NaN
    #    largest in both struct comparison and DESC sort, so degenerate
    #    scores pick the same cell.
    cent = F.broadcast(
        centroids.select(
            F.col("cell_id"),
            F.col("centroid"),
            l2_norm("centroid").alias("_cnorm"),
        )
    )
    scored = corpus.select(
        F.col(id_col), vec_col, l2_norm(vec_col).alias("_vnorm")
    ).crossJoin(cent).select(
        F.col(id_col),
        vec_col,
        "cell_id",
        (dot(vec_col, "centroid") / (F.col("_vnorm") * F.col("_cnorm"))).alias(
            "cscore"
        ),
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col).alias("_v"), F.col("cell_id").alias("_c")),
            F.struct(F.col("cscore"), (-F.col("cell_id")).alias("_nc")),
        ).alias("_b")
    )
    return best.select(
        F.col(id_col),
        F.col("_b._v").alias(vec_col),
        F.col("_b._c").alias("cell_id"),
    )


def deterministic_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seed: the n_cells lowest-id vectors.

    A stand-in for k-means|| (pyspark.ml KMeans fits here directly when a
    trained codebook is wanted); deterministic seeding keeps the operator
    reproducible for tests and the driver's rows-only check.

    Scale shape: ``orderBy(id).limit(n)`` plans TakeOrderedAndProject — a
    distributed partial top-k (each partition keeps its n smallest, the
    driver merges n_cells rows), NOT a global sort.  The earlier
    formulation (``row_number`` over ``Window.orderBy(id)``) funneled the
    ENTIRE corpus through one reducer to number rows — the worst possible
    plan at 100 TB (VERDICT r1 "What's wrong" #1).  The seed vector's own
    id doubles as the cell label: cells only need distinct join keys, not
    dense 0..n-1 ids, so no global numbering step exists at all."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    sample_rows: int = 20_000,
) -> DataFrame:
    """Trained IVF codebook: k-means|| via ``pyspark.ml.clustering.KMeans``
    on a bounded deterministic sample of the corpus.

    The fit runs on at most ``sample_rows`` vectors (TakeOrderedAndProject
    on a per-row hash — a distributed partial top-k, no global sort or
    single-reducer window), which is how production IVF codebooks are
    trained at 100 TB: centroid quality converges long before the sample
    does, so the O(iters x k x n) fit cost stays bounded while assignment
    (`ivf_assign`) streams the full corpus exactly once.  Seeded k-means||
    keeps the codebook reproducible for the rows-only driver gate.
    Returns (cell_id, centroid: array<double>) — drop-in for
    :func:`deterministic_centroids` via ``ivf_topk(centroids=...)``.
    The codebook frame is built from pandas, so it plans as a
    ``LocalTableScan`` that every read serves from the driver, not as a
    ``Scan ExistingRDD`` that runs Python-worker tasks per read."""
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc())
        .limit(sample_rows)
        .select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(sample)
    cents = [[float(x) for x in c] for c in model.clusterCenters()]
    centers = pd.DataFrame({"cell_id": range(len(cents)), "centroid": cents})
    return corpus.sparkSession.createDataFrame(centers, "cell_id INT, centroid ARRAY<DOUBLE>")


def lloyd_kmeans_fixed(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    sample_bound: int = 256,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF codebook via EXACT fixed-point Lloyd iterations — the
    bit-replayable twin of :func:`kmeans_centroids` (VERDICT r6 item 2).

    Floating-point k-means is not run-reproducible (partial-sum order
    varies with partitioning), which forced sim_ivf_kmeans_topk into a
    rows-only driver gate.  This trainer removes the float noise at the
    source: vectors quantize to integers (``floor(x * scale)`` — exact
    given identical parquet inputs), assignment argmin runs on exact
    integer squared-L2 distances with a lowest-cell-id tie-break, and
    the centroid update is ``floor(sum / count)`` — a double division of
    exact integers, bit-identical in any IEEE-754 engine.  Every step is
    therefore independent of partitioning AND replayable in ANSI SQL, so
    the trained codebook gets a full DuckDB oracle, not a rows-only row.

    Execution shape: Spark runs two bounded reads, both quantized in
    Spark — the ``n_cells`` lowest-id seeds (``orderBy(id).limit``, i.e.
    TakeOrderedAndProject) and the ``id < sample_bound`` sample (pushed
    to the scan) — one bounded collect of ``sample_bound x dim`` longs.
    The ``iters`` rounds run on the driver in NumPy int64, distances in
    row chunks (O(sample x cells) memory); ``argmin`` keeps the first
    minimum over id-sorted seeds; empty cells keep their centroid.

    Degenerate inputs: an empty corpus, ``sample_bound=0`` (seeds come
    back unchanged), ``n_cells`` above the row count and ``iters=0``
    return a well-formed frame.  NULL vectors or elements among the
    seed/sample rows, or unequal widths, raise ``ValueError`` (the
    former Spark loop sorted NULL distances first and returned a
    meaningless codebook).  Where Spark's ANSI int64 arithmetic raised,
    ``ArithmeticError`` is raised up front: whenever ``dim * (max -
    min)**2`` (largest squared distance) or ``rows * max|v|`` (largest
    cell sum) leaves int64 — a sufficient bound, so it may also reject
    inputs near the limit that the Spark loop survived.
    Returns (cell_id, centroid: array<double>) — drop-in for
    :func:`deterministic_centroids` via ``ivf_topk(centroids=...)``,
    built from pandas so it plans as a ``LocalTableScan`` (no
    Python-worker tasks per read, unlike a frame built from a list)."""
    import numpy as np
    import pandas as pd

    fx_expr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )
    seeds = (
        corpus.select(F.col(id_col), fx_expr.alias("fx"))
        .orderBy(F.asc(id_col))
        .limit(n_cells)
        .collect()
    )
    sample = corpus.filter(F.col(id_col) < sample_bound).select(fx_expr.alias("fx")).collect()
    vecs = [r["fx"] for r in seeds + sample]
    if any(v is None or None in v or len(v) != len(vecs[0]) for v in vecs):
        raise ValueError(f"lloyd_kmeans_fixed: NULL or unequal-width {vec_col!r} vectors")
    dim = len(vecs[0]) if vecs else 0
    cents = np.array(vecs[: len(seeds)], dtype=np.int64).reshape(len(seeds), dim)
    fx = np.array(vecs[len(seeds) :], dtype=np.int64).reshape(len(sample), dim)
    if cents.size and fx.size:
        lo, hi = int(min(fx.min(), cents.min())), int(max(fx.max(), cents.max()))
        top = np.iinfo(np.int64).max
        if dim * (hi - lo) ** 2 > top or len(fx) * max(hi, -lo) > top:
            raise ArithmeticError(f"lloyd_kmeans_fixed: values in [{lo}, {hi}] overflow int64")
    step = max(1, (1 << 20) // max(1, cents.size))
    for _ in range(iters if len(cents) and len(fx) else 0):
        near = np.concatenate([
            ((fx[i : i + step, None, :] - cents[None]) ** 2).sum(axis=2).argmin(axis=1)
            for i in range(0, len(fx), step)
        ])
        cnt = np.bincount(near, minlength=len(cents))
        sums = np.zeros_like(cents)
        np.add.at(sums, near, fx)
        hit = cnt > 0
        cents[hit] = np.floor(sums[hit].astype(np.float64) / cnt[hit, None]).astype(np.int64)
    centers = pd.DataFrame({
        "cell_id": [int(r[id_col]) for r in seeds],
        "centroid": [(c / float(scale)).tolist() for c in cents],
    })
    return corpus.sparkSession.createDataFrame(centers, "cell_id BIGINT, centroid ARRAY<DOUBLE>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
    query_version_col: str | None = None,
    index_version_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest cells per query and
    rank only vectors assigned to those cells.

    The candidate join is an equi-join on cell_id (shuffle/broadcast by
    Catalyst) — the only place corpus rows meet query rows, and it carries
    |corpus| * (nprobe/n_cells) rows instead of |corpus| x |queries|.
    ``centroids`` swaps in a trained codebook (:func:`kmeans_centroids`);
    the default is the deterministic seed with a CORPUS-DERIVED cell
    count — ``n_cells=None`` sizes the codebook via :func:`auto_n_cells`
    (~√N, the r11 30× counterfactual's measured rule) at the cost of one
    count job, which a 100 TB deployment answers from catalog statistics
    (or the persisted CMS counter sum — both exact); pass ``n_cells``
    explicitly to override.  ``assigned`` swaps in a
    PRECOMPUTED cell assignment (must be :func:`ivf_assign` of this
    corpus under these centroids) so repeated lookups — micro-batches,
    query batches — amortize the corpus-wide assignment pass instead of
    re-planning it per call (stream_ann_lookup does exactly this).

    VERSIONED SERVING (r10): when ``query_version_col`` (a column on
    ``queries``) and ``index_version_col`` (a column on ``assigned``)
    are both given, a candidate is eligible only if its index version
    ``<=`` the query's version — one fused cell_id equi-join serves
    every index version in the batch at once, instead of one lookup job
    per version (stream_ann_refresh's sink uses this to fold up to four
    per-cohort jobs into one per micro-batch).  The predicate rides the
    same equi-join — candidate volume per query is unchanged, it's the
    per-version job/shuffle overhead that collapses."""
    versioned = query_version_col is not None and index_version_col is not None
    if versioned:
        # every internal name the versioned columns ride alongside at any
        # point in the pipeline — including the mid-pipeline cell-scoring
        # and ranking columns (cscore/rn/score/rank), which would raise a
        # confusing duplicate/ambiguous-column analysis error instead of
        # this ValueError if a version column shadowed them (ADVICE r10)
        reserved = {
            "query_id", "q_vec", "cell_id", "neighbor_id", "c_vec",
            "cscore", "rn", "score", "rank", "_qn", "_cn", "_ctn",
        }
        if query_version_col == index_version_col or reserved & {
            query_version_col, index_version_col
        }:
            # both versions survive into the candidate join, where the
            # eligibility predicate references each by bare name — equal
            # or internal-colliding names would be ambiguous there
            raise ValueError(
                "query_version_col and index_version_col must be distinct "
                f"and disjoint from the internal names {sorted(reserved)}; "
                f"got {query_version_col!r} / {index_version_col!r}"
            )
    if centroids is not None:
        cents = centroids
    else:
        if n_cells is None:
            n_cells = auto_n_cells(corpus.count())
        cents = deterministic_centroids(corpus, n_cells, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign(corpus, cents, id_col, vec_col)

    # query norms hoisted (r13): |q| is computed once per query row and
    # carried through the probe into the candidate scoring, so each
    # candidate pays one dot fold + |c| instead of three folds —
    # dot/(qn*cn) is bit-equal to the fused cosine (identical IEEE ops
    # on identical operands).
    q_extra = [F.col(query_version_col)] if versioned else []
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("_qn"),
        *q_extra,
    )
    q_scored = q.crossJoin(
        F.broadcast(cents.withColumn("_ctn", l2_norm("centroid")))
    ).select(
        "query_id",
        "q_vec",
        "_qn",
        *([query_version_col] if versioned else []),
        "cell_id",
        (dot("q_vec", "centroid") / (F.col("_qn") * F.col("_ctn"))).alias("cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
    probed = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id", "q_vec", "_qn", "cell_id",
            *([query_version_col] if versioned else []),
        )
    )

    cands = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cell_id",
        l2_norm(vec_col).alias("_cn"),
        *([index_version_col] if versioned else []),
    )
    eligible = F.col("neighbor_id") != F.col("query_id")
    if versioned:
        eligible = eligible & (
            F.col(index_version_col) <= F.col(query_version_col)
        )
    scored = (
        F.broadcast(probed)
        .join(cands, "cell_id")
        .filter(eligible)
        .select(
            "query_id",
            "neighbor_id",
            (dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


#: Soft bound on the scorer's per-chunk working set: the source-block x
#: cell-members score matrix is chunked so it never exceeds ~4M doubles
#: (32 MB) regardless of cell size.
_CELL_SCORE_CHUNK_DOUBLES = 4_000_000


def _score_within_cells(
    assigned: DataFrame, id_col: str, vec_col: str, schema: str, emit
) -> DataFrame:
    """The one within-cell scoring kernel: ``groupBy(cell_id)`` collects
    each cell's (id, vec) member structs, and one ``mapInPandas`` pass
    scores every cell with NumPy and hands each source row's exact
    cosine row to ``emit(out, cell_id, ids, si, row)``, which appends
    the rows it keeps to ``out`` (one list per ``schema`` column).

    Per cell: members are id-sorted (index order IS id order, whatever
    the collect_list arrival order, so ``i < j`` means ``id_i < id_j``),
    norms and dot products accumulate STRICTLY LEFT-TO-RIGHT over the
    vector elements — bit-identical to the JVM ``aggregate(zip_with(...))``
    fold (functions/vectors.py): per pair the products a_j*b_j add in
    index order starting from 0.0, each an IEEE-754 double op, and the
    score is dot/(n_src*n_nbr) with the norms multiplied src-first like
    the hoisted-norm JVM form (IEEE sqrt is correctly rounded, and
    float32 inputs widen to float64 exactly).  Source rows are scored in
    blocks so the block x K matrix stays under
    :data:`_CELL_SCORE_CHUNK_DOUBLES`; cells of fewer than two members
    emit nothing.

    The function shipped to ``mapInPandas`` references only local
    closures and values, never a module-level helper of this package:
    cloudpickle ships nested functions BY VALUE but module-level ones by
    reference, and the Python workers of a driver that imported this
    package via a sys.path edit (__spark_entry__ run from an arbitrary
    cwd) cannot import it (r14: ModuleNotFoundError in the worker).
    ``emit`` must follow the same rule."""
    cells = assigned.select(
        F.col("cell_id"),
        F.struct(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")).alias(
            "_mem"
        ),
    ).groupBy("cell_id").agg(F.collect_list("_mem").alias("_m"))
    names = [f.split()[0] for f in schema.split(",")]
    chunk = _CELL_SCORE_CHUNK_DOUBLES

    def _score_cells(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {c: [] for c in names}
            for cell_id, mem in zip(pdf["cell_id"], pdf["_m"]):
                kk = len(mem)
                if kk < 2:
                    continue
                ids = np.fromiter((r["vec_id"] for r in mem), dtype=np.int64)
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                vecs = np.array(
                    [np.asarray(mem[i]["embedding"], dtype=np.float64) for i in order]
                )
                sq = np.zeros(kk)
                for j in range(vecs.shape[1]):
                    sq = sq + vecs[:, j] * vecs[:, j]
                norms = np.sqrt(sq)
                block = max(1, chunk // kk)
                for s0 in range(0, kk, block):
                    vb = vecs[s0 : s0 + block]
                    acc = np.zeros((vb.shape[0], kk))
                    for j in range(vecs.shape[1]):
                        acc = acc + np.outer(vb[:, j], vecs[:, j])
                    S = acc / np.outer(norms[s0 : s0 + block], norms)
                    for bi in range(vb.shape[0]):
                        emit(out, cell_id, ids, s0 + bi, S[bi])
            yield pd.DataFrame(out)

    return cells.mapInPandas(_score_cells, schema=schema)


def knn_graph_within_cells(
    assigned: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cell exact top-``k`` neighbors for EVERY vector — the
    sim_knn_graph scorer as one groupBy plus a vectorized Arrow/NumPy
    batch evaluator (guide §4.2), replacing the cell_id self-equi-join +
    per-pair interpreted cosine folds + K²-row rank window.

    Why this wins (measured r14, sf0.1, 2k vectors / 16 cells: the full
    query 2.74 s -> 1.13 s warm): the join form evaluates one
    interpreted ``aggregate(zip_with(...))`` fold per pair — O(K²) folds
    per cell — and streams all K² scored rows into the window.  Here
    each vector crosses the Arrow boundary ONCE per cell (not once per
    pair), the K² dot products run as 64 vectorized NumPy
    multiply-accumulates, and only the k*K result rows ever exist as
    rows.  Scores are BIT-IDENTICAL to the fold by construction
    (:func:`_score_within_cells` — verified row-identical on the
    fixtures, and the DuckDB oracle replays the same values).

    Ordering contract: rank 1..k by (score DESC, nbr_id ASC) with NaN
    ordered largest — exactly Spark's ``row_number`` over
    ``desc(score), asc(nbr_id)`` (NaN sorts first under DESC).  A cell
    of K <= k members gives each source its K-1 neighbors.

    NaN caveat: a zero-norm vector scores NaN against every member of
    its cell (0/0).  Those rows are still ranked (NaN largest, above),
    but pandas -> Arrow emits the NaN score double as NULL, so ``score``
    reads NULL where the JVM fold and DuckDB's oracle would carry NaN.
    Outputs are bit-identical to the fold only on inputs with no
    zero-norm vector; a future fixture that has one is not an oracle
    regression.

    100 TB shape: ONE shuffle — the groupBy(cell_id) collect of
    (id, vec) member structs — versus the join form's co-partition of
    both sides PLUS the K²-row window sort per cell.  Both forms
    concentrate a cell on one task, so both rely on the same
    bounded-cell contract (n_cells ~ √N keeps K ~ √N — the SemDeDup
    adjudication); within that contract this form's per-task state is
    K·dim doubles plus a chunked block x K score matrix
    (:data:`_CELL_SCORE_CHUNK_DOUBLES`), strictly less than the join
    form's K²-row sort buffer.  A cell whose raw members overflow a
    task is exactly the cell whose K² window partition already could
    not sort — the knob is n_cells in both shapes."""

    def _emit_topk(out, cell_id, ids, si, row):
        import numpy as np

        # NaN orders LARGEST (Spark DESC semantics)
        key = np.where(np.isnan(row), np.inf, row)
        rank = 0
        for ci in np.lexsort((ids, -key)):
            if ci == si:
                continue
            rank += 1
            if rank > k:
                break
            out["src_id"].append(ids[si])
            out["nbr_id"].append(ids[ci])
            out["score"].append(row[ci])
            out["rank"].append(rank)

    return _score_within_cells(
        assigned, id_col, vec_col,
        "src_id long, nbr_id long, score double, rank long", _emit_topk,
    )


def threshold_pairs_within_cells(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cell exact cosine-threshold pairs (id_a < id_b) — the
    SemDeDup pair scorer on the same kernel as
    :func:`knn_graph_within_cells` (:func:`_score_within_cells`:
    identical bit-exactness and bounded-cell arguments; emitted rows
    are only the QUALIFYING pairs, never the K² candidate stream).
    Returns (id_a, id_b, cell_id, score) with score >= threshold,
    scores bit-identical to the hoisted-norm JVM fold.

    NaN caveat: a pair involving a zero-norm vector scores NaN (0/0).
    NumPy's ``NaN >= threshold`` is False, so such pairs are never
    emitted, whereas DuckDB's total-order comparison (NaN largest) would
    keep them; and a NaN that did reach a row would cross pandas ->
    Arrow as NULL.  The oracle replays this output unchanged only on
    inputs with no zero-norm vector."""
    thr = float(threshold)

    def _emit_pairs(out, cell_id, ids, si, row):
        import numpy as np

        # ids sorted asc: indices > si are exactly id_b > id_a
        for ci in np.nonzero(row[si + 1 :] >= thr)[0] + si + 1:
            out["id_a"].append(ids[si])
            out["id_b"].append(ids[ci])
            out["cell_id"].append(cell_id)
            out["score"].append(row[ci])

    return _score_within_cells(
        assigned, id_col, vec_col,
        "id_a long, id_b long, cell_id long, score double", _emit_pairs,
    )


__all__ = [
    "auto_n_cells",
    "auto_cells_duck",
    "brute_force_topk",
    "ranked_topk",
    "cosine_threshold_pairs",
    "cosine_threshold_pairs_bucketed",
    "rp_dots",
    "rp_band_structs_from_dots",
    "ivf_assign",
    "deterministic_centroids",
    "kmeans_centroids",
    "lloyd_kmeans_fixed",
    "ivf_topk",
    "knn_graph_within_cells",
    "threshold_pairs_within_cells",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
]


def _rp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (seeded PRNG — reproducible across
    runs/sessions, which is what the rows-only gate and tests need)."""
    import random

    rng = random.Random(42)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH — the second
    ANN path next to IVF: vectors bucket by their n_planes-bit sign
    code; each query probes its own bucket plus all Hamming-1 neighbor
    buckets (multi-probe), and ranks only those candidates.

    For sign-LSH, P(bit differs) = angle/pi per plane, so near-identical
    vectors almost always share a code or differ in one bit — Hamming-1
    probing covers the dominant miss mode at (n_planes+1)/2^n_planes of
    the corpus scored per query.  The candidate join is an equi-join on
    the bucket code (never a cross join), same scale shape as the LSH
    text-dedup band join.

    The bucket is the one-band case of the banded sign code
    (:func:`rp_dots` + :func:`rp_band_structs_from_dots`, the path
    :func:`cosine_threshold_pairs_bucketed` uses): bit j set iff
    dot(vec, plane_j) > 0, the dots in their own projection so the plane
    fold runs once per row, not once per bit."""

    def coded(df, id_alias, vec_alias, code_alias):
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            rp_dots(vec_col, n_planes, dim).alias("_dots"),
        ).select(
            id_alias,
            vec_alias,
            rp_band_structs_from_dots("_dots", 1, n_planes)[0].bv.alias(code_alias),
        )

    corpus_coded = coded(corpus, "neighbor_id", "c_vec", "bucket")
    q = coded(queries, "query_id", "q_vec", "code")
    # multi-probe: own bucket + flip each bit once (Hamming-1)
    probes = F.array(
        F.col("code"), *[F.col("code").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    )
    probed = q.select("query_id", "q_vec", F.explode(probes).alias("bucket"))
    scored = (
        F.broadcast(probed)
        .join(corpus_coded, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine_similarity("q_vec", "c_vec").alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC): the
# industry-standard memory-compression path for billion-scale ANN (the "PQ"
# of FAISS IVF-PQ).  Vectors compress to m sub-codebook indices (m=8,
# n_codes=16 -> 8 nibbles vs 64 floats, a 64x footprint cut); queries score
# the COMPRESSED corpus through a per-query lookup table without ever
# touching raw vectors.  Composable with ivf_assign for cell-restricted
# IVF-PQ scoring.
# ---------------------------------------------------------------------------

def _pq_codebook_sql(corpus: DataFrame, n_codes: int, id_col: str, vec_col: str) -> str:
    """The deterministic PQ codebook (the ``n_codes`` lowest-id vectors,
    same seeding rationale as :func:`deterministic_centroids` — a k-means
    fit per subspace plugs in unchanged for a trained codebook) as ONE
    ``array<array<double>>`` SQL literal, code index = position in id
    order.  The fit is bounded driver-side — n_codes x dim doubles
    (16 x 64 here) via a TakeOrderedAndProject, not a corpus collect —
    and deliberately NOT memoized: it depends on the corpus contents, and
    16 rows per query construction is free.  ``repr`` renders
    shortest-roundtrip literals so the float64 values are bit-identical
    after JVM parse."""
    rows = (
        deterministic_centroids(corpus, n_codes, id_col, vec_col)
        .orderBy("cell_id")
        .collect()
    )
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(w)!r}D" for w in r.centroid) + ")"
            for r in rows
        )
        + ")"
    )


def pq_encode(
    corpus: DataFrame,
    cb_sql: str,
    m: int,
    sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as its ``m`` nearest-sub-codebook indices
    (max inner product per subspace, first-max = lowest code on ties).

    Fully NARROW — a single JVM-side projection over the codebook
    literal, no join, no shuffle, no Python: the subdot matrix
    (m x n_codes) is computed once into a lambda variable, and each
    row's output is ``m`` small ints.  At 100 TB this is the pass that
    rewrites the corpus into its compressed form; everything downstream
    (ADC scans, re-ranking candidate fetch) reads these codes, not the
    raw vectors.  Returns (id, codes array<int>)."""
    encode = (
        "transform("
        f"  transform(sequence(0, {m - 1}), s -> transform({cb_sql}, cvec -> "
        f"    aggregate(zip_with(slice(_v, s*{sub}+1, {sub}), slice(cvec, s*{sub}+1, {sub}),"
        "      (x, y) -> x * y), 0D, (acc, x) -> acc + x))),"
        "  sd -> cast(array_position(sd, array_max(sd)) - 1 as int))"
    )
    return corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        *[F.col(c) for c in extra_cols],
    ).select(
        F.col(id_col),
        F.expr(encode).alias("codes"),
        *[F.col(c) for c in extra_cols],
    )


def _adc_index(
    corpus: DataFrame, n_codes: int, m: int, id_col: str, vec_col: str
) -> tuple[str, int, str, str]:
    """The PQ/ADC prelude shared by :func:`pq_adc_topk` and
    :func:`ivfpq_topk`: probe the vector width, split it into ``m``
    subspaces of ``sub`` dims, fit the codebook literal
    (:func:`_pq_codebook_sql`), and build the two SQL folds.  Returns
    ``(cb_sql, sub, lut_sql, score_sql)``: ``lut_sql`` turns a query's
    ``_q`` (array<double>) into its flattened (m x n_codes) sub-dot
    table, and ``score_sql`` sums ``lut[s][codes[s]]`` over the
    subspaces into one ADC score."""
    dim = _vector_dim(corpus, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    cb_sql = _pq_codebook_sql(corpus, n_codes, id_col, vec_col)
    lut_sql = (
        "flatten(transform(sequence(0, {m1}), s -> transform({cb}, cvec -> "
        "aggregate(zip_with(slice(_q, s*{sub}+1, {sub}), slice(cvec, s*{sub}+1, {sub}),"
        " (x, y) -> x * y), 0D, (acc, x) -> acc + x))))"
    ).format(m1=m - 1, cb=cb_sql, sub=sub)
    score_sql = (
        f"aggregate(zip_with(codes, sequence(0, {m - 1}),"
        f" (c, s) -> element_at(lut, s*{n_codes} + c + 1)),"
        " 0D, (acc, x) -> acc + x)"
    )
    return cb_sql, sub, lut_sql, score_sql


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: encode the corpus with
    :func:`pq_encode`, build each query's (m x n_codes) sub-dot lookup
    table in the SAME JVM fold, and score every compressed vector with
    ``m`` table lookups — ``score = sum_s lut[s][codes[s]]`` — instead of
    a ``dim``-wide float dot.

    Scale shape: the corpus-side scan touches only the 8-int code column
    (the raw embedding prunes away), the query LUTs broadcast (|Q| x m x
    n_codes doubles), scoring is a narrow codegen fold, and the
    two-phase :func:`ranked_topk` ships only partitions x queries x k
    candidate rows into the final shuffle.  The broadcast cartesian is
    bounded by the QUERY BATCH exactly like brute_force_topk (the
    allow-listed exact baseline) — corpus x corpus is never formed.

    Determinism/replay: codebook literal + first-max tie-breaks + fixed
    fold order make the whole index SQL-replayable — the DuckDB oracle
    (queries/similarity.py) re-derives codebook, codes, LUTs, and ADC
    sums bit-identically (``list_sum``/``list_dot_product`` fold
    left-to-right in element order, verified empirically)."""
    cb_sql, sub, lut, score = _adc_index(corpus, n_codes, m, id_col, vec_col)
    codes = pq_encode(corpus, cb_sql, m, sub, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    luts = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_q"),
    ).select("query_id", F.expr(lut).alias("lut"))
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(score).alias("adc_score"))
    )
    return ranked_topk(scored, k, score_col="adc_score")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    n_codes: int = 16,
    m: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full billion-scale ANN composition — IVF cell probing
    bounds WHICH vectors each query scores (nprobe/n_cells of the
    corpus), PQ/ADC bounds WHAT each score costs (m table lookups over
    8-int codes instead of a dim-wide float dot over raw vectors).

    Plan shape: centroid assignment and PQ encoding are each one
    broadcast/narrow pass done once and amortized across query batches
    (at 100 TB both land in the persisted index table, bucketed by
    cell_id); per batch, the probe is a broadcast-bounded |Q| x n_cells
    ranking and candidate scoring is an EQUI-join on cell_id against the
    compressed codes — no cartesian anywhere in the per-batch path, and
    :func:`ranked_topk` ships only partitions x queries x k rows into
    the final shuffle.

    Same determinism guarantees as :func:`pq_adc_topk` /
    :func:`ivf_topk`, so the combined index — cells, assignments,
    codebook, codes, LUT sums, ranking — replays in SQL end to end."""
    cb_sql, sub, lut, score = _adc_index(corpus, n_codes, m, id_col, vec_col)
    cents = deterministic_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    codes = pq_encode(
        assigned, cb_sql, m, sub, id_col, vec_col, extra_cols=("cell_id",)
    ).withColumnRenamed(id_col, "neighbor_id")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_q"),
    ).select("query_id", "_q", F.expr(lut).alias("lut"))
    q_scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "lut",
        "cell_id",
        cosine_similarity("_q", "centroid").alias("cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
    probed = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "lut", "cell_id")
    )
    scored = (
        F.broadcast(probed)
        .join(codes, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(score).alias("adc_score"))
    )
    return ranked_topk(scored, k, score_col="adc_score")


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    n_codes: int = 16,
    m: int = 8,
    k_cand: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieve-then-rerank — the production ANN serving
    pattern (FAISS/ScaNN deployments): :func:`ivfpq_topk` retrieves a
    WIDE candidate cut (``k_cand`` per query) from the compressed index,
    then only those |Q| x k_cand candidates fetch their RAW vectors for
    an exact cosine re-rank down to ``k``.  ADC error affects which
    candidates surface, never their final order — the rerank score is
    exact.

    Scale shape: stage 1 is the audited IVF-PQ path (equi-join scoring
    over compressed codes); stage 2's raw-vector fetch is an EQUI-join
    of the tiny candidate list (broadcast) against the corpus by id —
    the corpus's raw vectors are touched for k_cand rows per query, not
    scanned.  At 100 TB this is why the compressed index exists: the
    full-width vectors stream through exactly one narrow join probe.

    Deterministic end to end (ADC ties and cosine ties both break on
    neighbor_id), so the SQL oracle replays both stages value-for-value.
    Returns (query_id, neighbor_id, score, rank) with the EXACT cosine
    as score."""
    cands = ivfpq_topk(
        corpus, queries, n_cells, nprobe, n_codes, m, k_cand, id_col, vec_col
    ).select("query_id", "neighbor_id")
    nb = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        F.broadcast(cands)
        .join(nb, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("_qv", "_nv").alias("score"),
        )
    )
    return ranked_topk(scored, k)
