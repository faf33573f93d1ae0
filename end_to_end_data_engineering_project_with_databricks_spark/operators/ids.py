"""Distributed sequential-id assignment — contiguous 0..n-1 row ids
WITHOUT a global window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole dataset into ONE task (Spark plans a single-partition Window) —
the classic scale cliff when a training pipeline needs global sample
indices for sharding/shuffling.  The scalable shape is the RDD
``zipWithIndex`` two-pass, expressed DataFrame-side:

1. range-partition + sort within partitions by the order key, so
   partition p holds the p-th contiguous slice of the global order;
2. count rows per partition (one tiny job; result is one row PER
   PARTITION, not per row — the documented driver-collect exception,
   same class as the similarity module's dimension probe);
3. per-partition Arrow pass adds ``offset[p] + local_position``.

Total cost: one range-exchange + one metadata-sized job — versus the
single-task sort of the window form.  Ids are identical to
``row_number() - 1`` over the same (total) ordering, which is what the
query's DuckDB oracle checks.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

try:  # ship function bodies in the task closure (workers need no PYTHONPATH)
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_sequential_ids(
    df: DataFrame,
    order_col: str,
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = the 0-based global rank of ``order_col``: the
    unit-weight case of :func:`assign_prefix_sums` (id = inclusive count
    - 1), so both share one two-pass shape (module docstring).

    Requires ``order_col`` to be a total order (unique values) for a
    deterministic result — pass a composite struct column to break
    ties.
    """
    unit = df.withColumn("_unit_w", F.lit(1))
    counted, _ = assign_prefix_sums(unit, order_col, "_unit_w", id_col, num_partitions)
    return counted.select(*df.columns, (F.col(id_col) - 1).alias(id_col))


def assign_prefix_sums(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add ``out_col`` = the INCLUSIVE global running sum of ``weight_col``
    in ``order_col`` order, plus the grand total — the weighted
    generalization of the zipWithIndex shape (range partition + sort,
    per-partition weight totals collected once — one row per PARTITION
    — then a narrow Arrow pass adds offset + local cumsum);
    :func:`assign_sequential_ids` is its unit-weight case.  A plain
    ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY would funnel the
    corpus through one reducer; this never does.  Weights must be
    non-negative integers for exact arithmetic."""
    # materialize once: both passes read these blocks, so the range
    # exchange + sort run a single time (blocks are freed by the context
    # cleaner when the result is unreferenced)
    parts = (
        df.repartitionByRange(num_partitions, order_col)
        if num_partitions
        else df.repartitionByRange(order_col)
    ).sortWithinPartitions(order_col)
    parts = parts.localCheckpoint(eager=True)
    with_pid = parts.withColumn("_pid", F.spark_partition_id())

    sums = {
        r["_pid"]: r["w"]
        for r in with_pid.groupBy("_pid")
        .agg(F.sum(weight_col).alias("w"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid])
    total = acc

    out_schema = with_pid.drop("_pid").schema.add(out_col, "long")

    # pass 2: narrow Arrow pass; repartitionByRange guarantees partition
    # pid holds the pid-th contiguous slice of the global order, and the
    # sortWithinPartitions order is preserved into mapInPandas batches
    def add_cums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf.drop(columns=["_pid"])
            cums = pdf[weight_col].astype("int64").cumsum() + pos
            out[out_col] = cums.values
            pos = int(cums.iloc[-1])
            yield out

    return with_pid.mapInPandas(add_cums, out_schema), total
