"""Property tests for the binned-join and prefix-sum scale operators:
the optimized shapes must agree with the obvious brute-force semantics
on arbitrary inputs, not just the fixture geometry.  ``scale_out`` is
pinned to plan only and to widen exactly the inputs estimated small."""

from __future__ import annotations

import numpy as np
import pytest

from end_to_end_data_engineering_project_with_databricks_spark.operators.ids import (
    assign_prefix_sums,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
    binned_interval_overlap_join,
    scale_out,
)


def test_scale_out_spreads_one_row_group_file_without_jobs(spark, tmp_path):
    """A one-row-group Parquet file is read with every row in one split;
    ``scale_out`` spreads it over several partitions and runs no job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    n = 4000
    path = str(tmp_path / "one_group.parquet")
    table = pa.table({"doc_id": list(range(n)), "text": [f"w{i} x y" for i in range(n)]})
    pq.write_table(table, path, row_group_size=n)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "scale-out-plans-only"
    sc.setJobGroup(group, "scale_out")
    try:
        wide = scale_out(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    per_part = wide.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sum(r["count"] for r in per_part) == n
    assert len(per_part) > 1, per_part


def test_scale_out_leaves_large_or_unknown_estimates_alone(spark):
    """An estimate at or above ``defaultParallelism x maxPartitionBytes``
    (here 8 TB of ``range``) or an unknown one (an RDD-backed frame)
    returns the very same DataFrame."""
    huge = spark.range(10**12)
    assert scale_out(huge) is huge
    rdd_backed = spark.createDataFrame([(1,), (2,)], "x long")
    assert scale_out(rdd_backed) is rdd_backed


@pytest.mark.parametrize("seed,bin_width", [(0, 7.0), (1, 16.0), (2, 3.0)])
def test_interval_overlap_matches_brute_force(spark, seed, bin_width):
    rng = np.random.default_rng(seed)
    left = [
        (int(i), int(lo), int(lo + rng.integers(0, 20)))
        for i, lo in enumerate(rng.integers(0, 200, 40))
    ]
    right = [
        (int(100 + i), int(lo), int(lo + rng.integers(0, 30)))
        for i, lo in enumerate(rng.integers(0, 200, 25))
    ]
    ldf = spark.createDataFrame(left, "lid int, l_lo long, l_hi long")
    rdf = spark.createDataFrame(right, "rid int, r_lo long, r_hi long")
    got = {
        (r["lid"], r["rid"])
        for r in binned_interval_overlap_join(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_width
        ).collect()
    }
    want = {
        (lid, rid)
        for lid, llo, lhi in left
        for rid, rlo, rhi in right
        if llo <= rhi and lhi >= rlo
    }
    assert got == want
    assert want, "fixture should produce at least one overlap"


def test_prefix_sums_match_pandas_cumsum(spark):
    rng = np.random.default_rng(7)
    rows = [(int(k), int(w)) for k, w in enumerate(rng.integers(0, 50, 500))]
    df = spark.createDataFrame(rows, "k long, w long")
    out, total = assign_prefix_sums(df, "k", "w", out_col="cum", num_partitions=7)
    got = {r["k"]: r["cum"] for r in out.collect()}
    acc, want = 0, {}
    for k, w in rows:
        acc += w
        want[k] = acc
    assert got == want
    assert total == acc
