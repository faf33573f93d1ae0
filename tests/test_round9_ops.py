"""Round-9 operator tests: materialized deep BPE (VERDICT r8 item 5)
and the HNSW beam/recall upgrades' invariants (item 3 — the routing
bar itself lives in test_round8_ops.py, raised to 0.5)."""

from __future__ import annotations

from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
    all_specs,
)
from end_to_end_data_engineering_project_with_databricks_spark.queries.text_analysis import (
    bpe_train_materialized,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_bpe_deep_replace_depth_is_bounded(spark, sf_dir) -> None:
    """The whole point of materialization: NO corpus pass — training
    pair-count or per-round token count — evaluates a replace chain
    deeper than materialize_every, while the unmaterialized trainer's
    final round evaluates depth rounds-1."""
    out, depths = bpe_train_materialized(_docs(spark, sf_dir), 8, 4)
    # 8 training passes + 8 token-count passes, all depth-bounded
    assert len(depths) == 16
    assert max(depths) <= 4, depths
    # and the bound binds: some pass actually reaches it
    assert max(depths) >= 3, depths
    rows = out.collect()
    assert [r.r for r in rows] == list(range(1, 9))
    toks = [r.corpus_tokens for r in rows]
    assert all(a > b for a, b in zip(toks, toks[1:])), toks
    ns = [r.n for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:])), ns


def test_bpe_deep_equals_unmaterialized_chain(spark, sf_dir) -> None:
    """Materialization changes where each pass starts, never what it
    computes: merges, counts, and token totals must be row-identical to
    the never-materialized 8-round chain (materialize_every > rounds)."""
    d = _docs(spark, sf_dir)
    mat, _ = bpe_train_materialized(d, 8, 4)
    unmat, udepths = bpe_train_materialized(d, 8, 100)
    # the depth the materialized path avoids: the round-8 token count
    # replays all 8 merges from the raw corpus
    assert max(udepths) == 8
    assert [tuple(r) for r in mat.collect()] == [
        tuple(r) for r in unmat.collect()
    ]


def test_hnsw_recall_audit_consistent_with_search(spark, sf_dir) -> None:
    """The audit's n_hits must equal the actual overlap between the
    registered search result and the exact top-5 — the audit measures
    the pipeline it claims to measure."""
    from pyspark.sql import functions as F

    specs = all_specs()
    audit = {
        r.query_id: (r.n_exact, r.n_hits, r.recall_fp)
        for r in specs["sim_hnsw_recall_audit"].fn(spark, sf_dir).collect()
    }
    assert set(audit) == set(range(8))
    search = specs["sim_hnsw_search"].fn(spark, sf_dir)
    by_q: dict[int, set] = {}
    for r in search.collect():
        by_q.setdefault(r.query_id, set()).add(r.nbr_id)
    from end_to_end_data_engineering_project_with_databricks_spark.functions.vectors import (
        cosine_similarity,
    )
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    exact = (
        q.crossJoin(c)
        .withColumn("score", cosine_similarity("q_vec", "c_vec"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.nbr_id)
    for qid, (n_exact, n_hits, recall_fp) in audit.items():
        assert n_exact == 5
        assert n_hits == len(truth[qid] & by_q[qid])
        assert recall_fp == (1_000_000 * n_hits) // 5
