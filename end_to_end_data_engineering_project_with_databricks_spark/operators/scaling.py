"""Physical-parallelism guard for compute-heavy narrow operators.

Spark sizes file splits by bytes (``maxPartitionBytes`` floor'd by
``openCostInBytes``), which assumes compute cost is proportional to input
bytes.  Operators like MinHash signatures break that assumption: a few MB
of text explodes into millions of hash evaluations, so a small input scan
lands in one task and serializes the whole stage on one core.

Counting splits does not find that case.  A scan gets
``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes, bytes /
cores))``, so an 820 KB Parquet file at 4 cores and a 256 KB open cost
is read as 4 byte-range splits — but a Parquet row group is read by the
one split that holds its midpoint, so a one-row-group file puts every
row in one of the 4 tasks (``[0, 6000, 0, 0]``).  The partition count
looked wide enough and the stage ran on one core.  Asking for the count
(``df.rdd.getNumPartitions()``) also plans the input physically, which
runs the AQE stages of any exchange in it as construction-time jobs
that the real action then computes again.

``scale_out`` therefore decides from the optimizer's byte estimate and
never touches ``df.rdd``: an input estimated below ``defaultParallelism
x maxPartitionBytes`` cannot have filled a split per core, so it is
round-robin repartitioned to ``defaultParallelism`` — a cheap shuffle of
a small input.  A larger estimate (or an unknown one, which the
optimizer reports as ``Long.MaxValue``) returns ``df`` unchanged, so a
100 TB corpus scan, which already has far more splits than cores, is
never reshuffled.  Outputs do not depend on the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.numeric import (
    dsum_merge,
    dsum_partial_hi,
    dsum_partial_lo,
)


def scale_out(df: DataFrame) -> DataFrame:
    """Spread ``df`` over ``defaultParallelism`` partitions before a
    compute-heavy narrow stage when its estimated size is below
    ``defaultParallelism x spark.sql.files.maxPartitionBytes``; otherwise
    return ``df`` itself.  Plans only — runs no Spark job."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= cores * split_bytes:
        return df
    return df.repartition(cores)


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    skewed_key: str,
    dim_key: str,
    salt_buckets: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi-join that survives a hot key on the probe side by
    salting: the skewed side gets a deterministic salt in
    ``[0, salt_buckets)``, the dim side is replicated once per salt
    value, and the join runs on ``(key, salt)`` — a hot key's rows now
    spread over ``salt_buckets`` reducers instead of melting one.

    Trade-off, stated honestly: the dim side is shuffled/built
    ``salt_buckets`` times, so this only pays when the probe side's
    skew dominates — which is exactly the regime AQE's skew-join split
    (on by default, session.py) can't always reach: AQE splits by
    *partition size after the fact*; salting prevents the pathological
    partition from existing at all, and also covers stateful
    aggregations downstream of the join where AQE does not re-plan.

    The salt is ``xxhash64`` of ``salt_source`` (default: the whole-row
    hash of the skewed side's columns) — deterministic, so re-runs and
    the DuckDB oracle agree; join RESULTS are identical to the unsalted
    join because each skewed row still meets every matching dim row
    exactly once (the dim replica with its salt)."""
    salt_col = (
        F.xxhash64(*[F.col(c) for c in skewed.columns])
        if salt_source is None
        else F.xxhash64(F.col(salt_source))
    )
    left = skewed.withColumn("_salt", F.pmod(salt_col, F.lit(salt_buckets)))
    replicas = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    joined = left.join(
        replicas,
        (left["_salt"] == replicas["_salt"])
        & (F.col(skewed_key) == F.col(dim_key)),
    )
    return joined.drop("_salt")


def skew_resistant_agg(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    value_col: str,
) -> DataFrame:
    """Skew-resistant per-key (COUNT DISTINCT, exact SUM) via explicit
    two-stage aggregation.

    The failure mode at 100 TB: a handful of hot keys (a viral
    event_type, an empty-string language) send their ENTIRE distinct-set
    state to single reducers — ``countDistinct``'s partial state is the
    set itself, so map-side combine doesn't save the hot reducer.

    Stage 1 groups by the composite ``(keys, distinct_col)``: the
    shuffle hash-partitions on the composite, so a hot key fans out
    across ALL reducers (the distinct value acts as a natural salt),
    each deduplicating a disjoint slice of its values.  Stage 2 groups
    the compact one-row-per-distinct-value output by ``keys`` alone —
    orders of magnitude smaller than the raw fact.  The exact
    fixed-point sum splits the same way: long partials in stage 1,
    merged exactly in stage 2 (functions/numeric.py), so the two-stage
    result is bit-equal with the one-stage aggregate.
    """
    stage1 = df.groupBy(*keys, F.col(distinct_col)).agg(
        dsum_partial_hi(value_col).alias("_hi"),
        dsum_partial_lo(value_col).alias("_lo"),
    )
    # count(distinct_col), NOT count(*): a NULL distinct value forms a
    # stage-1 group like any other (its value partials must fold into
    # total_value, matching the one-stage SUM over all rows), but
    # COUNT(DISTINCT x) semantics exclude NULL — counting rows here
    # would silently report one extra distinct on NULL-bearing keys
    # (ADVICE-class r11 review finding; regression-pinned in
    # tests/test_round11_ops.py)
    return stage1.groupBy(*keys).agg(
        F.count(F.col(distinct_col)).alias("n_distinct"),
        dsum_merge("_hi", "_lo").alias("total_value"),
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Point-in-interval join ([lo, hi) containment) as an EQUI-join.

    A naive range join between two big sides plans as a nested-loop
    (O(n*m) comparisons).  Binning makes it shuffle-joinable: each
    interval explodes into every ``bin_width``-sized bin it overlaps,
    each point keys by the single bin containing it, the two sides
    equi-join on the bin id, and the exact predicate refines.  Each
    point lives in exactly one bin, so no dedup is needed.  Cost is
    |intervals| x avg_bins_per_interval + one key shuffle — choose
    ``bin_width`` near the typical interval length so the explode
    factor stays small.  The same trick underlies the IVF/LSH candidate
    joins (operators/similarity.py, operators/dedup.py)."""
    from pyspark.sql import functions as F

    p = points.withColumn("_bin", F.floor(F.col(point_col) / bin_width))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_width),
                F.floor(F.col(hi_col) / bin_width),
            )
        ),
    )
    return p.join(iv, "_bin").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    ).drop("_bin")


def binned_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: float,
) -> DataFrame:
    """Interval-OVERLAP join (``l_lo <= r_hi AND l_hi >= r_lo``, closed
    intervals) between two big sides as an EQUI-join — the 2D sibling of
    :func:`binned_range_join` (there one side is points; here both sides
    are intervals, the time-range-join shape of sessions x campaigns or
    reading x validity windows).

    Both sides explode into every ``bin_width`` bin they touch, equi-join
    on the bin id, and the exact overlap predicate refines.  Overlapping
    pairs share ALL bins in the overlap region, so a naive refine emits
    one row per shared bin; restricting the match to the FIRST shared bin
    (``max(floor(l_lo), floor(r_lo))``) keeps output exactly-once with NO
    dropDuplicates shuffle.  Cost: each side's explode factor is its
    interval length / bin_width (pick bin_width near the typical length),
    plus one key shuffle; never a nested-loop theta join."""
    lb = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(l_lo) / bin_width), F.floor(F.col(l_hi) / bin_width)
            )
        ),
    )
    rb = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(r_lo) / bin_width), F.floor(F.col(r_hi) / bin_width)
            )
        ),
    )
    first_shared = F.greatest(
        F.floor(F.col(l_lo) / bin_width), F.floor(F.col(r_lo) / bin_width)
    )
    return (
        lb.join(rb, "_bin")
        .filter(
            (F.col(l_lo) <= F.col(r_hi))
            & (F.col(l_hi) >= F.col(r_lo))
            & (F.col("_bin") == first_shared)
        )
        .drop("_bin")
    )
