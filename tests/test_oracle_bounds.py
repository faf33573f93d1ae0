"""Re-validate bounded-check oracle bounds at EVERY fixture scale.

The bounded-check pattern (dedup_minhash_accuracy, agg_approx_*,
emb_pca_quality, ...) emits exact anchor values plus booleans asserting
an estimate sits within a bound; the DuckDB oracle states those booleans
as constant TRUE.  The bounds are chosen from measurements on the
fixture scales, so they are SCALE-COUPLED: a driver run at a NEW scale
where a sketch estimate exceeds its bound would flip the Spark-side
boolean against the constant-TRUE oracle and red the whole row
(ADVICE r4).  This test closes that gap mechanically:

* bounded queries are auto-discovered (any oracle containing a
  ``TRUE AS <col>`` column), so new bounded-check twins are covered the
  moment they register;
* fixture scales are auto-discovered from ``/root/testdata/sf*``, so
  introducing a new scale factor re-validates every bound without
  anyone remembering to.

A failure here means the BOUND needs re-measuring at the offending
scale, not that the operator is wrong.
"""

from __future__ import annotations

import glob
import re

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
    all_specs,
)

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))

# IGNORECASE (ADVICE r5): DuckDB SQL keywords are case-insensitive, so a
# bounded oracle written as `TRUE as ok` must not drop out of coverage.
_BOUNDED_PATTERN = re.compile(r"TRUE\s+AS\s+\w+", re.IGNORECASE)

_BOUNDED = sorted(
    name
    for name, spec in all_specs().items()
    if spec.oracle and _BOUNDED_PATTERN.search(spec.oracle)
)


def test_discovery_is_not_vacuous() -> None:
    """The auto-discovery must keep finding the known bounded families —
    if a refactor renames the TRUE column idiom, this fails before the
    per-scale checks silently stop covering anything."""
    assert len(SF_DIRS) >= 3, SF_DIRS
    for expected in (
        "dedup_minhash_accuracy",
        "dedup_oph_accuracy",
        "agg_approx_percentile",
        "emb_pca_quality",
        "emb_pca_project",
    ):
        assert expected in _BOUNDED


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", _BOUNDED)
def test_bounded_booleans_hold(spark, sf_dir: str, name: str) -> None:
    spec = all_specs()[name]
    df = spec.fn(spark, sf_dir)
    bool_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, BooleanType)
    ]
    assert bool_cols, f"{name} matched the bounded pattern but emits no boolean"
    row = df.agg(
        *[F.min(F.col(c).cast("int")).alias(c) for c in bool_cols]
    ).first()
    for c in bool_cols:
        # None = empty result at this scale (bound vacuously holds there;
        # the non-vacuity of each bound is proven at the scales where
        # pairs/rows exist — see the per-query docstrings)
        assert row[c] in (1, None), f"{name}.{c} flipped FALSE at {sf_dir}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_incremental_lsh_pair_set_vs_exact_jaccard(spark, sf_dir: str) -> None:
    """ADVICE r5: equivalence-style booleans can't see a pair BOTH
    pipelines miss (batch and incremental LSH deterministically share
    every miss, so `in_both` stays TRUE).  This compares the emitted
    PAIR SET against an independent exact-Jaccard computation at every
    fixture scale: the incremental LSH pairs must equal the exact
    >= 0.5 pairs touching the increment.  A new fixture scale whose
    near-dup pairs sit close enough to 0.5 for the 16x4 banding to miss
    one fails HERE first (then the bound — or the fixture expectation —
    gets re-measured, per the module docstring)."""
    from pyspark.sql import functions as SF

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
        ngram_jaccard_pairs,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(SF.col("doc_id") % 10 == 0)
    corpus = d.filter(SF.col("doc_id") % 10 != 0)
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup_incremental(
            new, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }

    exact = ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).filter(
        (SF.col("id_a") % 10 == 0) | (SF.col("id_b") % 10 == 0)
    )
    exact_pairs = {(r.id_a, r.id_b) for r in exact.select("id_a", "id_b").collect()}
    assert lsh_pairs == exact_pairs, (
        f"incremental LSH pair set != exact-Jaccard pair set at {sf_dir}: "
        f"lsh-only={sorted(lsh_pairs - exact_pairs)[:5]} "
        f"exact-only={sorted(exact_pairs - lsh_pairs)[:5]}"
    )
