"""Unit tests for operators/curation.py with planted/adversarial rows —
the registry-level oracle equivalence is covered separately by
tests/test_queries_vs_oracle.py (queries/llm_curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.operators.curation import (
    boilerplate_ngram_stats,
    decontaminate,
    pii_counts,
    pii_redact,
    repetition_stats,
    shingles_all,
    stratified_hash_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_all_keeps_multiplicity(spark):
    df = _docs(spark, [(1, "a b a b a")])
    out = df.select(shingles_all("text", 2).alias("g")).head()[0]
    assert out == ["a b", "b a", "a b", "b a"]  # dup bigrams preserved


def test_decontaminate_flags_exact_ngram_overlap(spark):
    evalset = _docs(spark, [(100, "the quick brown fox jumps over the dog")])
    train = _docs(
        spark,
        [
            (1, "totally unrelated words here nothing shared at all"),
            # contains the eval 5-gram "quick brown fox jumps over"
            (2, "prefix quick brown fox jumps over suffix"),
        ],
    )
    got = {
        r.doc_id: r.n_shared_grams
        for r in decontaminate(train, evalset, "doc_id", "text", n=5).collect()
    }
    assert got == {2: 1}  # doc 1 absent: clean docs are not emitted


def test_boilerplate_ratio_counts_frequent_grams(spark):
    # "x y z" occurs in all 3 docs -> boilerplate at min_docs=3;
    # every other gram is unique to its doc.
    df = _docs(spark, [(1, "x y z a b"), (2, "c d x y z"), (3, "x y z e f")])
    rows = {
        r.doc_id: (r.n_grams, r.n_boiler)
        for r in boilerplate_ngram_stats(df, "doc_id", "text", n=3, min_docs=3).collect()
    }
    # each doc has 3 distinct 3-grams, exactly one of which is "x y z"
    assert rows == {1: (3, 1), 2: (3, 1), 3: (3, 1)}


def test_repetition_stats_flags_degenerate_doc(spark):
    df = _docs(
        spark,
        [
            (1, "spam spam spam spam spam spam"),  # one bigram repeated 5x
            (2, "all bigrams here are fully distinct"),
        ],
    )
    rows = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text", n=2).collect()}
    assert rows[1].n_grams == 5 and rows[1].n_distinct == 1
    assert rows[1].dup_frac == 0.8 and rows[1].top_share == 1.0
    assert rows[2].dup_frac == 0.0


def test_repetition_stats_short_and_null_docs_match_oracle(spark):
    """A 1-token, an empty and a NULL text have no bigram: the DuckDB
    oracle of ``text_repetition_filter`` emits no row for them, and the
    operator must not fail the job on them (``sequence(1, 0)`` is
    ``[1, 0]`` in Spark, and ``element_at(toks, 0)`` raises)."""
    import duckdb

    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        oracle_sql_map,
    )
    from tests.oracle import compare

    rows = [(1, "lonely"), (2, ""), (3, None), (4, "a b a b")]
    df = _docs(spark, rows)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        got = repetition_stats(df, "doc_id", "text", n=2)
        assert compare(got, con, oracle_sql_map()["text_repetition_filter"]) == []
    finally:
        con.close()
    assert [r.doc_id for r in got.collect()] == [4]


def test_pii_redact_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org now"),
            (2, "host 192.168.0.1 dialed +1-555-0199"),
            (3, "no pii in this row"),
        ],
        "id long, t string",
    )
    c = pii_counts("t")
    out = {
        r.id: r
        for r in df.select(
            "id", *[v.alias(k) for k, v in c.items()], pii_redact("t").alias("red")
        ).collect()
    }
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert out[1].red == "mail <EMAIL> now"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 1, 1)
    assert out[2].red == "host <IP> dialed <PHONE>"
    assert out[3].red == "no pii in this row"


def test_stratified_hash_sample_deterministic_and_proportional(spark):
    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("source"),
    )
    key = F.col("doc_id").cast("string")
    out = stratified_hash_sample(df, "source", key, {"big": 64})  # keep ~25% of big
    counts = {r.source: r.c for r in out.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert counts["small"] == n // 2  # unlisted stratum untouched
    assert 0.15 < counts["big"] / (n // 2) < 0.35  # ~64/256 of the big stratum
    # deterministic: a second evaluation selects the identical ids
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in out.collect())
    assert a == b


def test_gopher_rules_on_constructed_docs(spark):
    """Line-based and symbol rules on multi-line docs (the fixture corpus
    is single-line, so these paths are exercised here)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.text import (
        gopher_features,
        gopher_pass,
    )

    good = " ".join(["the quick brown fox jumps over the lazy dog and"] * 6)
    bullets = "\n".join(["- item one", "* item two", "• item three", "prose line"])
    ellipses = "\n".join(["to be continued...", "more to come…", "and with that the end"])
    symbolic = "## ## ## the of ..."
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, ellipses), (4, symbolic)], "id long, text string"
    )
    feats = gopher_features("text")
    out = {
        r.id: r
        for r in df.select(
            "id",
            *[v.alias(k) for k, v in feats.items()],
            gopher_pass(feats).alias("passes"),
        ).collect()
    }
    assert out[1].n_words == 60 and out[1].n_required_stopwords >= 2
    assert out[1].passes  # fluent English prose above the length floor
    assert out[2].bullet_line_frac == 0.75  # 3 of 4 lines bullet-start
    assert abs(out[3].ellipsis_line_frac - 2 / 3) < 1e-15  # 2 of 3 lines
    assert out[4].symbol_ratio > 0.1 and not out[4].passes
    # word-count floor alone fails the short docs regardless of style
    assert not out[2].passes and not out[3].passes


def test_misra_gries_superset_guarantee_under_adversarial_partitioning(spark):
    """A planted heavy hitter spread thin across many partitions (its
    worst case) must survive candidate generation, and the two-pass
    result must equal the exact aggregate."""
    import random

    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.operators.heavy_hitters import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    rng = random.Random(3)
    # 20k noise tokens (high cardinality) + 300 copies of the hitter
    rows = [(f"noise_{rng.randrange(10000)}",) for _ in range(20000)]
    rows += [("hot",)] * 300  # 300/20300 ~ 1.48% >= 1% support
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "token string").repartition(16)

    cands = {r.token for r in misra_gries_candidates(df, "token", k=101).collect()}
    assert "hot" in cands  # superset guarantee

    got = {
        (r.token, r.n)
        for r in heavy_hitters_exact(df, "token", support=0.01).collect()
    }
    want = {
        (r.token, r.n)
        for r in df.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 0.01 * len(rows))
        .collect()
    }
    assert got == want
    assert ("hot", 300) in got


def test_observed_metrics_match_recount_without_second_scan(spark, sf_dir, tmp_path):
    """``df.observe``: gate metrics accumulated during the one write
    action equal a separate recount — the no-second-pass audit that
    pipeline/declarative.py and pipeline/video_etl.py rely on."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    gated = d.filter(F.col("n_chars") >= 100)
    obs = Observation("quality_gate")
    instrumented = gated.observe(
        obs,
        F.count("*").alias("rows_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )
    instrumented.write.mode("overwrite").parquet(str(tmp_path / "kept"))
    got = obs.get
    want_rows = gated.count()
    want_chars = gated.agg(F.sum("n_chars")).collect()[0][0]
    assert got["rows_kept"] == want_rows
    assert got["chars_kept"] == want_chars


def test_chunk_dedup_rewrite_keeps_first_occurrence(spark):
    from end_to_end_data_engineering_project_with_databricks_spark.operators.curation import (
        chunk_dedup_rewrite,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # chunks (size 2): "a b", "c d"
            (2, "a b x y"),   # "a b" dups doc 1 -> only "x y" survives
            (3, "c d a b"),   # both chunks dup -> empty rewrite
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["kept_text"], r["n_kept"])
        for r in chunk_dedup_rewrite(df, "doc_id", "text", chunk_tokens=2).collect()
    }
    assert out == {1: ("a b c d", 2), 2: ("x y", 1), 3: ("", 0)}


def test_chunk_dedup_rewrite_intra_doc_repetition(spark):
    from end_to_end_data_engineering_project_with_databricks_spark.operators.curation import (
        chunk_dedup_rewrite,
    )

    df = spark.createDataFrame(
        [(7, "a b a b a b")], "doc_id long, text string"
    )
    (row,) = chunk_dedup_rewrite(df, "doc_id", "text", chunk_tokens=2).collect()
    # the repeated chunk collapses to its first in-document occurrence
    assert (row["kept_text"], row["n_kept"]) == ("a b", 1)
