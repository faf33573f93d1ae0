"""Empirical scale-growth audit for the candidate-bounded operators
(VERDICT r7 item 2).

The dedup/ANN family's 100 TB viability rests on one claim: candidate
volume grows ~LINEARLY with corpus size because every pair generator is
bucketed (LSH bands, PPJoin prefixes, IVF cells).  Through round 7 that
claim was argued by plan shape (no cartesian nodes, equi-join keys) but
never MEASURED beyond sf0.1.  This module turns the argument into
evidence: build k-times-larger corpora whose true duplicate structure
grows linearly by construction, run exactly the candidate stages the
production operators run, and fit the growth exponent.

Replication design — why the measurement is honest:

- ``replicate_documents``: replica ``r`` suffixes every non-hub token
  with ``r<r>``, so replicas share NO shingles except all-hub-token
  grams ("the a the ...") — the hub/stop-gram collisions a real corpus
  has are PRESERVED across replicas (they are exactly the quadratic
  hazard prefix filtering and rarest-first ordering must survive),
  while the true near-dup clusters stay replica-local.  Truth pairs
  therefore grow exactly k-fold; any super-linear candidate growth is
  the algorithm's, not the data's.  Replica 0 keeps the original text,
  so k=1 is the unmodified corpus.
- ``replicate_embeddings``: replica ``r`` circularly shifts each vector
  by ``r`` positions — an orthogonal transform, so WITHIN-replica
  cosine structure is preserved exactly while cross-replica cosines
  decorrelate (the fixture vectors carry no shift symmetry).
- ids interleave (``id*k + r``) rather than stride, so id-prefix
  samples (``lloyd_kmeans_fixed``'s ``id < sample_bound`` scan filter,
  ``deterministic_centroids``'s lowest-id seeds) span all replicas the
  way a uniform sample of a genuinely larger corpus would.

Knob-scaling protocol (what the audit grades): the published recipes
grow the bucket count with the corpus — SemDeDup/IVF scale ``n_cells``
proportionally to N, LSH keeps band width fixed (bucket count grows
with the hash space for free), PPJoin prefixes scale per-document.  The
audit therefore measures IVF-family candidates with ``n_cells = base*k``
— the knob a 100 TB deployment would actually turn — and additionally
records the FIXED-knob curve, which is expected (and documented in
docs/SCALE.md) to be quadratic: per-cell occupancy grows k-fold, pairs
k-squared.  The measured contrast is the evidence that the knob, not
luck, is what bounds the work.

Everything here is audit tooling: the ``.collect()``/``.count()`` calls
aggregate a handful of stat rows, never corpus rows, but the module is
deliberately NOT a registry query — it exists for scripts/scale_audit.py
and tests/test_scale_growth.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
    tokens,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
    jaccard_prefix_candidate_pairs,
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_signatures,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
    scale_out,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
    _vector_dim,
    deterministic_centroids,
    ivf_assign,
    lloyd_kmeans_fixed,
)

#: Tokens left UNTAGGED across replicas: the fixture vocabulary's
#: stop-token analogues.  Grams made only of these collide across all k
#: replicas — the deliberate hub-shingle hazard.
HUB_TOKENS: tuple[str, ...] = ("the", "a")


def _with_replica_spine(df: DataFrame, k: int) -> DataFrame:
    """Broadcast crossJoin against the k-row replica spine — the
    standard bounded-dimension spine join (never a data-x-data
    cartesian; k <= ~100 by construction)."""
    spark = df.sparkSession
    spine = F.broadcast(
        spark.range(int(k)).select(F.col("id").cast("int").alias("_rep"))
    )
    return df.crossJoin(spine)


def replicate_documents(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """k-fold corpus replica with linearly-growing duplicate structure.

    Replica r > 0 rewrites every non-hub token ``t -> t + 'r' + r`` (a
    pure JVM transform over the token array), so its shingle sets are
    disjoint from every other replica's except all-hub grams; replica 0
    is byte-identical to the input.  New id = ``id*k + r`` (interleaved,
    collision-free for dense non-negative ids)."""
    rep = _with_replica_spine(df, k)
    tag = F.concat(F.lit("r"), F.col("_rep").cast("string"))
    tagged = F.concat_ws(
        " ",
        F.transform(
            tokens(text_col),
            lambda t: F.when(t.isin(*HUB_TOKENS), t).otherwise(F.concat(t, tag)),
        ),
    )
    return rep.select(
        (F.col(id_col) * k + F.col("_rep")).alias(id_col),
        F.when(F.col("_rep") == 0, F.col(text_col)).otherwise(tagged).alias(text_col),
    )


def replicate_embeddings(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """k-fold embedding replica: replica r circularly shifts each vector
    by ``r % dim`` positions, and replicas ``r >= dim`` additionally
    flip the sign of every odd coordinate — both transforms are
    orthogonal (norms and within-replica cosines exactly preserved;
    cross-replica cosines decorrelate), and the (shift, flip) pairs are
    distinct for ``k <= 2*dim`` (the r13 100x probe needs k=100 over
    dim=64; shift-only capped at k <= dim).  New id = ``id*k + r``."""
    dim = _vector_dim(df, vec_col)
    if k > 2 * dim:
        raise ValueError(
            f"k={k} exceeds 2*dim={2 * dim}: (shift, flip) pairs would repeat"
        )
    rep = _with_replica_spine(df, k)
    shift = F.col("_rep") % dim
    shifted = F.concat(
        F.slice(F.col(vec_col), shift + 1, F.lit(dim) - shift),
        F.slice(F.col(vec_col), F.lit(1), shift),
    )
    if k > dim:
        flip = (F.col("_rep") >= dim).cast("int")
        shifted = F.zip_with(
            shifted,
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda j: j),
            lambda v, j: F.when(
                (flip == 1) & (j % 2 == 1), -v
            ).otherwise(v),
        )
    return rep.select(
        (F.col(id_col) * k + F.col("_rep")).alias(id_col),
        shifted.alias(vec_col),
    )


def lsh_growth_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 16,
    rows_per_band: int = 4,
) -> dict:
    """Candidate-volume stats for the MinHash-LSH banding pipeline:
    distinct candidate pairs (what the verify pays), raw bucket join
    rows sum(occ*(occ-1)/2) (what the shuffle pays), and the max band-
    bucket occupancy (the skew hazard)."""
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes=bands * rows_per_band
    )
    buckets = lsh_band_buckets(sigs, id_col, bands, rows_per_band).localCheckpoint(
        eager=True
    )
    occ = buckets.groupBy("band", "bh").agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_bucket"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("join_rows"),
        F.count("*").alias("n_buckets"),
    ).collect()[0]
    return {
        "n_docs": docs.count(),
        "max_bucket": int(row["max_bucket"]),
        "candidate_join_rows": int(row["join_rows"]),
        "n_buckets": int(row["n_buckets"]),
        "distinct_candidate_pairs": lsh_candidate_pairs(
            sigs, id_col, bands, rows_per_band
        ).count(),
    }


def ppjoin_growth_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
) -> dict:
    """Candidate-volume stats for the PPJoin prefix filter: distinct
    candidate pairs entering the exact verify."""
    cand = jaccard_prefix_candidate_pairs(docs, id_col, text_col, threshold, k)
    return {
        "n_docs": docs.count(),
        "candidate_pairs": cand.count(),
    }


def ivf_growth_stats(
    emb: DataFrame,
    n_cells: int,
    trained: bool,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_factor: int = 16,
) -> dict:
    """Cell-occupancy stats for the IVF family (SemDeDup within-cell
    pairs, k-NN graph single-probe candidates).  Candidate volume is
    EXACTLY sum(occ*(occ-1)/2) over cells — determined by occupancy, so
    the audit never needs to materialize the pair join itself.
    ``trained=True`` uses the fixed-point Lloyd codebook (the SemDeDup
    path, sample_bound scaled ``sample_factor`` x n_cells so the fit
    sample stays an order denser than the cells — the O(sample x cells)
    fit cost is the knob the test trims); ``False`` uses deterministic
    lowest-id seeds (the sim_knn_graph path)."""
    if trained:
        cents = lloyd_kmeans_fixed(
            emb,
            n_cells=n_cells,
            iters=2,
            sample_bound=sample_factor * n_cells,
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        cents = deterministic_centroids(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    occ = assigned.groupBy("cell_id").agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_cell"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("pairs"),
        F.count("*").alias("n_occupied"),
    ).collect()[0]
    return {
        "n_vecs": emb.count(),
        "n_cells": n_cells,
        "max_cell": int(row["max_cell"]),
        "within_cell_pairs": int(row["pairs"]),
        "n_occupied_cells": int(row["n_occupied"]),
    }


def growth_exponent(points: list[tuple[float, float]]) -> float:
    """Least-squares slope in log-log space: candidates ~ N**exponent.
    1.0 = linear, 2.0 = quadratic.  Zero-candidate points are clamped to
    1 so an empty small-k measurement cannot produce -inf."""
    xs = [math.log(max(n, 1.0)) for n, _ in points]
    ys = [math.log(max(c, 1.0)) for _, c in points]
    n = len(points)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def simhash_growth_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """Band-bucket stats for the SimHash 4x15-bit banded Hamming join
    (the simhash_near_dups configuration).  Unlike LSH bands (hashes of
    a signature slice — an effectively unbounded key space), a 15-bit
    band VALUE space holds only 32,768 buckets per band, so random
    birthday collisions make the candidate stream grow ~quadratically
    once n approaches 2^bits_per_band — the audit MEASURES that knee so
    docs/SCALE.md can state when ``bits_per_band`` must widen with the
    corpus.  The verified output (Hamming <= 3) stays linear: two
    random 60-bit fingerprints sit ~30 bits apart, so birthday
    candidates die in the exact check — cost, not correctness."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _h60,
        hamming_band_buckets,
        simhash64,
        simhash_near_dups,
    )

    hashed = scale_out(docs).select(
        F.col(id_col).alias("_id"),
        F.transform(tokens(text_col), _h60).alias("_th"),
    )
    fp = hashed.select("_id", simhash64("_th", n_bits=60).alias("fp"))
    occ = hamming_band_buckets(fp, "_id", "fp", bits_per_band=15).groupBy(
        "band", "bv"
    ).agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_bucket"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("join_rows"),
    ).collect()[0]
    return {
        "n_docs": docs.count(),
        "max_bucket": int(row["max_bucket"]),
        "candidate_join_rows": int(row["join_rows"]),
        "verified_pairs": simhash_near_dups(docs, id_col, text_col).count(),
    }


def span_growth_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_k: int = 8,
    max_df: int = 64,
) -> dict:
    """df-gated gram-join stats for the duplicated-spans operator: the
    positional-gram equi-join shuffles sum(m*(m-1)/2) rows over grams
    whose document frequency passes the 2..max_df gate (m = the gram's
    total positions).  Also counts the verified output spans — both
    should track the corpus' (linear) duplicate structure."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        duplicated_spans,
        span_gram_positions,
    )

    grams = span_gram_positions(docs, id_col, text_col, gram_k)
    per_gram = grams.groupBy("gh").agg(
        F.count("*").alias("m"), F.count_distinct("_id_").alias("df")
    )
    gated = per_gram.filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    row = gated.agg(
        F.max("m").alias("max_m"),
        F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("join_rows"),
        F.count("*").alias("n_gated_grams"),
    ).collect()[0]
    return {
        "n_docs": docs.count(),
        "max_gram_positions": int(row["max_m"] or 0),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "n_gated_grams": int(row["n_gated_grams"]),
        "verified_spans": duplicated_spans(
            docs, id_col, text_col, gram_k=gram_k, max_df=max_df
        ).count(),
    }


# ---------------------------------------------------------------------------
# Round-9 extension (VERDICT r8 item 4): the candidate-bounded joins the
# r8 audit did not yet cover — binned range/interval joins, the
# decontamination eval-gram join, ER blocking, and raw-shingle
# containment.
# ---------------------------------------------------------------------------


def replicate_numeric(
    df: DataFrame, k: int, value_cols: tuple[str, ...], span: float, id_col: str
) -> DataFrame:
    """k-fold numeric replica for range/interval-join audits: replica
    ``r`` offsets every column in ``value_cols`` by ``r * span``, so
    replicas occupy disjoint value ranges — the domain-grows-with-corpus
    regime of time-keyed range joins (a corpus 30x bigger spans ~30x
    more timestamps; account-balance bands, session windows, and
    validity intervals all stretch their domain with volume).  ``span``
    must cover the source column's range so replicas cannot overlap.
    ``span=0`` is the FIXED-DOMAIN negative control: k-fold rows pile
    into the same bins and the bin join must go quadratic — the
    contrast proving domain growth (not luck) is what keeps the join
    linear.  Ids interleave (``id*k + r``) as in replicate_documents."""
    rep = _with_replica_spine(df, k)
    out = [(F.col(id_col) * k + F.col("_rep")).alias(id_col)]
    for c in df.columns:
        if c == id_col:
            continue
        if c in value_cols:
            out.append(
                (F.col(c) + F.col("_rep").cast("double") * float(span)).alias(c)
            )
        else:
            out.append(F.col(c))
    return rep.select(*out)


def range_join_growth_stats(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> dict:
    """Bin-join volume for :func:`operators.scaling.binned_range_join`:
    the equi-join on bin id shuffles sum_over_bins(|points| x
    |intervals|) rows before the exact predicate refines.  Occupancy
    aggregates compute that volume without materializing the join; the
    refined output is counted through the production operator itself."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        binned_range_join,
    )

    p_occ = points.select(
        F.floor(F.col(point_col) / bin_width).alias("_bin")
    ).groupBy("_bin").agg(F.count("*").alias("p"))
    iv_occ = (
        intervals.select(
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / bin_width),
                    F.floor(F.col(hi_col) / bin_width),
                )
            ).alias("_bin")
        )
        .groupBy("_bin")
        .agg(F.count("*").alias("iv"))
    )
    row = (
        p_occ.join(iv_occ, "_bin")
        .agg(
            F.sum(F.col("p") * F.col("iv")).alias("join_rows"),
            F.max(F.col("p") * F.col("iv")).alias("max_bin_product"),
        )
        .collect()[0]
    )
    return {
        "n_points": points.count(),
        "n_intervals": intervals.count(),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "max_bin_product": int(row["max_bin_product"] or 0),
        "output_rows": binned_range_join(
            points, intervals, point_col, lo_col, hi_col, bin_width
        ).count(),
    }


def interval_join_growth_stats(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: float,
) -> dict:
    """Bin-join volume for
    :func:`operators.scaling.binned_interval_overlap_join` — both sides
    explode into the bins they touch, so the shuffle pays
    sum_over_bins(|left| x |right|); the first-shared-bin refine then
    keeps overlapping pairs exactly once."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        binned_interval_overlap_join,
    )

    def occ(df: DataFrame, lo: str, hi: str, name: str) -> DataFrame:
        return (
            df.select(
                F.explode(
                    F.sequence(
                        F.floor(F.col(lo) / bin_width),
                        F.floor(F.col(hi) / bin_width),
                    )
                ).alias("_bin")
            )
            .groupBy("_bin")
            .agg(F.count("*").alias(name))
        )

    row = (
        occ(left, l_lo, l_hi, "l")
        .join(occ(right, r_lo, r_hi, "r"), "_bin")
        .agg(
            F.sum(F.col("l") * F.col("r")).alias("join_rows"),
            F.max(F.col("l") * F.col("r")).alias("max_bin_product"),
        )
        .collect()[0]
    )
    return {
        "n_left": left.count(),
        "n_right": right.count(),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "max_bin_product": int(row["max_bin_product"] or 0),
        "output_rows": binned_interval_overlap_join(
            left, right, l_lo, l_hi, r_lo, r_hi, bin_width
        ).count(),
    }


def decontaminate_growth_stats(
    docs: DataFrame,
    k_reps: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    eval_mod: int = 97,
    fixed_eval: bool = True,
) -> dict:
    """Eval-gram join volume for operators/curation.decontaminate: the
    training side joins the eval slice's DISTINCT gram set, so the
    shuffle (or broadcast probe) pays exactly |t_grams ⋈ e_grams| rows.

    ``fixed_eval=True`` is the operator's contract: the benchmark set
    does NOT grow with the training corpus (the decontaminate docstring
    says exactly that — eval sets are a few thousand documents), so the
    eval slice is pinned to the REPLICA-0 originals
    (``id % k_reps == 0 AND (id div k_reps) % eval_mod == 0`` under the
    interleaved id scheme) while train grows k-fold around it.  Only
    all-hub grams can match eval across replicas, so candidate volume
    tracks the corpus linearly.

    ``fixed_eval=False`` is the NEGATIVE CONTROL — the eval slice grows
    with the corpus (``id % eval_mod``, spanning all replicas).  Both
    join sides then grow k-fold and any gram shared across replicas
    (hub grams) contributes quadratically: measured 1.75 at sf0.01
    (docs/SCALE.md) — the blowup a pipeline that "decontaminates"
    against an ever-growing holdout walks into."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.curation import (
        decontaminate,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        shingles,
    )

    if fixed_eval:
        is_eval = (F.col(id_col) % k_reps == 0) & (
            F.expr(f"({id_col} div {k_reps}) % {eval_mod}") == 0
        )
    else:
        is_eval = F.col(id_col) % eval_mod == 0
    evalset = docs.filter(is_eval)
    train = docs.filter(~is_eval)
    t_grams = train.select(F.explode(shingles(text_col, n)).alias("gram"))
    e_grams = evalset.select(F.explode(shingles(text_col, n)).alias("gram")).distinct()
    return {
        "n_docs": docs.count(),
        "n_eval_grams": e_grams.count(),
        "candidate_join_rows": t_grams.join(e_grams, "gram").count(),
        "contaminated_docs": decontaminate(
            train, evalset, id_col, text_col, n=n
        ).count(),
    }


def blocked_er_growth_stats(
    names: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """Block-join volume for the entity-resolution blocking stage
    (queries/dedup.dedup_entity_resolution_blocked): candidate pairs
    share a last-token blocking key, so the expensive Levenshtein runs
    on sum_over_blocks(occ*(occ-1)/2) pairs.  Replica tagging makes
    blocks replica-local, so block skew (the mega-block hazard the
    query docstring names) is preserved within each replica while
    candidate volume grows linearly in k."""
    keyed = names.select(
        F.col(text_col).alias("name"),
        F.element_at(F.split(text_col, " "), -1).alias("block"),
    ).distinct()
    occ = keyed.groupBy("block").agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_block"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("join_rows"),
    ).collect()[0]
    b = keyed.select(F.col("name").alias("name_b"), "block")
    verified = (
        keyed.withColumnRenamed("name", "name_a")
        .join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 3)
        .count()
    )
    return {
        "n_names": keyed.count(),
        "max_block": int(row["max_block"] or 0),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "verified_pairs": verified,
    }


def containment_growth_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> dict:
    """Raw-shingle-join volume for dedup_containment's candidate stage:
    the inverted-index self-join pays sum_over_shingles(occ*(occ-1)/2)
    rows.  Unlike LSH (doc-level band keys) this join keys on INDIVIDUAL
    shingles, so corpus-wide frequent grams are a real quadratic hazard
    — the query docstring's stated 100 TB answer is to swap candidate
    generation to the MinHash band join and keep containment as the
    verify.  The audit measures both the growth exponent AND the max
    shingle occupancy (the hazard's size on this corpus); replica
    tagging keeps frequent shingles replica-local, hub grams excepted.
    ``verified_pairs`` counts the production operator's output
    (operators/dedup.ngram_containment_pairs)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ngram_containment_pairs,
        shingles,
    )

    sh = scale_out(docs).select(F.explode(shingles(text_col, shingle_k)).alias("sh"))
    occ = sh.groupBy("sh").agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_occ"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("join_rows"),
    ).collect()[0]
    verified = ngram_containment_pairs(
        docs, id_col, text_col, shingle_k, threshold
    ).count()
    return {
        "n_docs": docs.count(),
        "max_shingle_occ": int(row["max_occ"] or 0),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "verified_pairs": verified,
    }


# ---------------------------------------------------------------------------
# Round-10 extension (VERDICT r9 item 3): the two r9 operator families
# the audit did not yet cover — the LSH-Ensemble size strata and the
# HNSW beam walk.
# ---------------------------------------------------------------------------


def ensemble_growth_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> dict:
    """Per-stratum candidate volume for the LSH-Ensemble containment
    search (operators/dedup.containment_lsh_ensemble_pairs): every
    query probes every stratum under that stratum's (bands, rows) —
    candidate rows per stratum = the (band, bh) bucket join of the FULL
    query side against the stratum-semi-filtered index side.  The size
    strata are the knob: replica tagging preserves each document's
    shingle COUNT (tokens are suffixed, never added), so stratum
    membership is replica-invariant and each stratum's index grows
    exactly k-fold — any super-linear candidate growth would be the
    banding's, not the data's.  Stats mirror lsh_growth_stats: per-
    stratum join rows + max index-side bucket occupancy (the skew
    hazard), plus the deduped union the verify actually pays."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ENSEMBLE_STRATA,
        lsh_band_buckets,
        minhash_signatures,
        shingles,
    )

    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    counts = (
        scale_out(docs)
        .select(
            F.col(id_col).alias("_id_"),
            F.explode(shingles(text_col, shingle_k)).alias("sh"),
        )
        .groupBy("_id_")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    per_stratum: dict[str, dict] = {}
    cand = None
    for lo, hi, bands, rows_per_band in ENSEMBLE_STRATA:
        buckets = lsh_band_buckets(
            sigs, id_col, bands, rows_per_band
        ).localCheckpoint(eager=True)
        in_stratum = F.col("n") >= lo if hi is None else (
            (F.col("n") >= lo) & (F.col("n") < hi)
        )
        idx_ids = counts.filter(in_stratum).select(F.col("_id_").alias("_iid"))
        i_side = buckets.join(
            idx_ids, F.col("_id") == F.col("_iid"), "left_semi"
        )
        i_occ = i_side.groupBy("band", "bh").agg(F.count("*").alias("iocc"))
        q_occ = buckets.groupBy("band", "bh").agg(F.count("*").alias("qocc"))
        row = (
            q_occ.join(i_occ, ["band", "bh"])
            .agg(
                # every (q, i) bucket pairing the join emits, minus the
                # self pairs (an index doc always shares its own bucket
                # on the query side) — exactly the id_q != id_i volume
                F.sum(F.col("qocc") * F.col("iocc")).alias("join_rows"),
                F.max("iocc").alias("max_bucket"),
            )
            .collect()[0]
        )
        n_idx = idx_ids.count()
        label = f"{lo}-{hi if hi is not None else 'inf'}@{bands}x{rows_per_band}"
        per_stratum[label] = {
            "n_index_docs": n_idx,
            "candidate_join_rows": int(row["join_rows"] or 0) - n_idx * bands,
            "max_index_bucket": int(row["max_bucket"] or 0),
        }
        pairs = (
            buckets.select(F.col("_id").alias("id_q"), "band", "bh")
            .join(
                i_side.select(F.col("_id").alias("id_i"), "band", "bh"),
                ["band", "bh"],
            )
            .filter(F.col("id_q") != F.col("id_i"))
            .select("id_q", "id_i")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return {
        "n_docs": docs.count(),
        "per_stratum": per_stratum,
        "summed_candidate_rows": sum(
            s["candidate_join_rows"] for s in per_stratum.values()
        ),
        "distinct_candidates": cand.dropDuplicates().count(),
    }


def hnsw_growth_stats(
    spark,
    emb: DataFrame,
    n_cells: int | None = 16,
) -> dict:
    """Walk-cost stats for the HNSW beam search
    (queries/similarity._hnsw_topk): per-hop deduped candidate rows
    (what the walk scores — the claim is O(|Q| * beam * (degree +
    n_cells)) per hop, CORPUS-SIZE-INDEPENDENT for a fixed query set
    and fixed knob) and the final refine rows (the beam's <= 2 distinct
    cells' full membership — corpus/n_cells per cell, so linear in N at
    fixed knob and FLAT under the scaled-knob protocol n_cells ~ N,
    the nprobe regime sim_ivf_topk documents).  Both regimes are
    measured in tests/test_scale_growth.py; docs/SCALE.md carries the
    table.  ``n_cells=None`` exercises the DEFAULT path (the
    corpus-derived ~√N knob, auto_n_cells — since r12 what the registry
    queries run); the reported ``n_cells`` is then the derived value."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
        auto_n_cells,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.queries.similarity import (
        _hnsw_topk,
    )

    stats: dict = {}
    # the walk's result is materialized only through the stat counts
    _hnsw_topk(spark, sf_dir="", emb=emb, n_cells=n_cells, walk_stats=stats)
    return {
        "n_vecs": emb.count(),
        "n_cells": n_cells if n_cells is not None else auto_n_cells(emb.count()),
        "hop_candidate_rows": stats["hop_candidate_rows"],
        "total_hop_candidates": sum(stats["hop_candidate_rows"]),
        "refine_rows": stats["refine_rows"],
    }


def ml_lsh_growth_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict:
    """Candidate/emitted-pair volume for the STOCK pyspark.ml LSH path
    (queries/dedup.dedup_minhash_ml): HashingTF(binary, 2^20) shingle
    features -> MinHashLSH(seed=42, 8 OR-ed tables).  Candidate volume
    is reconstructed from the model's own hash output — one (table,
    min-hash) bucket per table per doc, sum(occ*(occ-1)/2) over buckets
    is exactly what ``approxSimilarityJoin``'s internal explode+equi-join
    shuffles — and ``emitted_pairs`` counts the post-exact-distance-
    filter output (what a consumer verifies).  Single-value band keys
    share hub-gram min-hashes across replicas (the same sublinear
    max-bucket hazard measured on the hand-rolled 64x1 ensemble
    stratum), so the max bucket is reported as the honest skew stat."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        shingles,
    )

    from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
        tokens,
    )

    # filter on a fresh cheap token count BEFORE the gram projection
    # (>= 3 tokens <=> >= 1 gram): a predicate on the aliased computed
    # array would re-evaluate the shingle chain per row
    sh = scale_out(docs).filter(F.size(tokens(text_col)) >= 3).select(
        F.col(id_col).alias("_id_"), shingles(text_col, 3).alias("sh")
    )
    feat = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 20, binary=True
    ).transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feat)
    hashed = model.transform(feat).select(
        "_id_", F.posexplode("hashes").alias("table", "hv")
    )
    buckets = hashed.select(
        "table", vector_to_array("hv").getItem(0).alias("h")
    )
    occ = buckets.groupBy("table", "h").agg(F.count("*").alias("occ"))
    row = occ.agg(
        F.max("occ").alias("max_bucket"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("join_rows"),
    ).collect()[0]
    emitted = (
        model.approxSimilarityJoin(feat, feat, 0.5, distCol="jd")
        .select(
            F.col("datasetA._id_").alias("id_a"),
            F.col("datasetB._id_").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .count()
    )
    return {
        "n_docs": docs.count(),
        "max_bucket": int(row["max_bucket"] or 0),
        "candidate_join_rows": int(row["join_rows"] or 0),
        "emitted_pairs": emitted,
    }


def cms_growth_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """State growth for the Count-Min sketch build
    (queries/relational_extra.agg_cms_frequency; operators/sketches.py).

    The 100 TB claim for CMS is different in kind from the candidate-
    bounded joins: not "candidates grow linearly" but "the AGGREGATION
    STATE does not grow at all" — the counter relation is capped at
    d*w cells no matter the corpus or domain size, while the exact-
    counting alternative's state is the full n-gram domain.  Under
    ``replicate_documents`` the bigram DOMAIN grows ~k-fold (non-hub
    tokens are suffixed per replica), so:

    - ``exact_state_rows`` (distinct bigrams — what an exact counter
      shuffles and stores) must grow with exponent ~1: the contrast
      row proving the replication scheme grows the domain;
    - ``sketch_state_rows`` (occupied (i, bucket) cells) must saturate
      at <= d*w — exponent ~0 once the domain exceeds the width.

    ``n_items`` is total bigram occurrences (the stream length N);
    ``max_counter`` tracks the heaviest cell (hub-gram mass plus
    collisions — the skew a downstream reader of the sketch sees)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_FREQ,
        cms_stack_spark,
        cms_u_spark,
    )

    toks = scale_out(docs).select(tokens(text_col).alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    # materialize the exploded bigrams ONCE: three consumers follow
    # (stream length, exact-state distinct, sketch aggregate), and a
    # re-plan per consumer would tokenize+explode+hash the k-replicated
    # corpus three times (audit tooling, but the k=16 leg triples CI
    # time for nothing — same lesson as dedup.py's counts relation).
    # persist(), not localCheckpoint(): the growth test sweeps k in
    # {1, 4, 16} and checkpoint blocks are only reclaimed by the
    # ContextCleaner on a JVM GC, so the k-replicated corpora would
    # accumulate in the block manager across the sweep; CacheManager
    # blocks release deterministically via unpersist() below (ADVICE
    # r10).  No iterative lineage here, so plan truncation is not
    # needed — all three consumers share this one Python DF object,
    # which is exactly the InMemoryRelation-reuse case.
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tk) - 1), "
                "i -> concat(element_at(_tk, i), ' ', element_at(_tk, i + 1)))"
            )
        ).alias("b")
    ).persist()
    hashed = bg.selectExpr(f"{cms_u_spark('b')} AS u", "b")
    stacked = hashed.selectExpr(
        f"{cms_stack_spark('u', CMS_W_FREQ)} AS (i, bkt)"
    )
    sketch = stacked.groupBy("i", "bkt").agg(F.count("*").alias("c"))
    srow = sketch.agg(
        F.count("*").alias("cells"), F.max("c").alias("mx")
    ).collect()[0]
    out = {
        "n_items": bg.count(),
        "exact_state_rows": bg.select("b").distinct().count(),
        "sketch_state_rows": int(srow["cells"]),
        "sketch_state_cap": CMS_D * CMS_W_FREQ,
        "max_counter": int(srow["mx"] or 0),
    }
    bg.unpersist()
    return out


def stock_sketch_state_growth_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """State growth for the three STOCK DataSketches aggregation tiers
    (VERDICT r10 item 4 — the CMS protocol, mirrored): KLL quantiles
    (queries/relational_extra.agg_quantile_sketch), theta distinct/set
    algebra (queries/relational.agg_theta_sketch_setops), and
    frequent-items top-k (queries/relational.agg_topk_sketch).

    The fixed-state claims differ per family, so the measures do too —
    each is the SERIALIZED aggregation state (``length(<agg>)`` bytes),
    i.e. exactly what one executor ships at shuffle for that sketch:

    - ``kll_bytes``: KLL state grows O(k_param * log(n/k_param))
      (Karnin-Lang-Liberty FOCS'16) — near-flat across our 16x stream
      growth; measured over the hashed-bigram value stream so the
      VALUE domain grows ~k-fold (the regime where an exact quantile
      computation must carry the full distinct-value set).
    - ``theta_bytes``: theta hash-threshold sampling retains <= nominal
      entries once the distinct count exceeds 2^lgK.  The audit uses
      lgK=6 so the fixture bigram domain (916 distinct at k=1) is deep
      in the SATURATED regime at every k — the same mechanism as the
      production lgK=12, smaller constant.  ``theta_exactmode_bytes``
      (lgK=12) is the CONTRAST row: below 4096 distincts theta is in
      exact mode and its state tracks the domain, so its measured
      growth proves the probe can detect state growth when it exists
      (the simhash-knee pattern).
    - ``topk_bytes``: frequent-items state is HARD-CAPPED by
      maxItemsTracked (=64 here): the internal map doubles toward that
      cap and never past it, so bytes may grow sub-linearly while
      small but are bounded by a constant independent of stream or
      domain size.  Measured over the TOKEN stream (hub tokens are
      genuine heavy hitters, so the sketch is exercised in its
      designed regime — ``topk_tracked_top10`` stays non-zero);
      bigrams have no heavy hitters and the purge logic empties the
      sketch, which would measure eviction noise, not state.

    Contrast rows: ``exact_bigram_rows`` / ``exact_token_rows`` are the
    distinct counts an exact computation's state must carry — both grow
    ~k-fold under ``replicate_documents`` token tagging."""
    d = scale_out(docs)
    bg = (
        d.select(tokens(text_col).alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> concat(element_at(_tk, i), ' ', element_at(_tk, i + 1)))"
                )
            ).alias("b")
        )
        .persist()
    )
    toks = d.select(F.explode(tokens(text_col)).alias("t")).persist()
    brow = bg.selectExpr(
        "count(*) AS n_items_bigrams",
        "length(kll_sketch_agg_double("
        "CAST(pmod(xxhash64(b), 1000003) AS DOUBLE))) AS kll_bytes",
        "length(theta_sketch_agg(b, 6)) AS theta_bytes",
        "length(theta_sketch_agg(b, 12)) AS theta_exactmode_bytes",
    ).collect()[0]
    trow = toks.selectExpr(
        "count(*) AS n_items_tokens",
        "length(approx_top_k_accumulate(t, 64).sketch) AS topk_bytes",
        "size(approx_top_k_estimate(approx_top_k_accumulate(t, 64), 10))"
        " AS topk_tracked_top10",
    ).collect()[0]
    out = {
        **brow.asDict(),
        **trow.asDict(),
        "exact_bigram_rows": bg.distinct().count(),
        "exact_token_rows": toks.distinct().count(),
    }
    bg.unpersist()
    toks.unpersist()
    return out
