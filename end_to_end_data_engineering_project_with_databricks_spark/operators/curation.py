"""Training-corpus curation operators: benchmark decontamination,
corpus-frequent (boilerplate) n-gram pruning, intra-document repetition
filtering, PII redaction, and deterministic stratified sampling.

These extend the reference's single dedup idea (the videoId anti-join,
ETL_pipeline_countries.py:137) to the curation ladder a large-scale
training-data pipeline runs over a raw corpus: drop eval-set leakage,
strip boilerplate, drop degenerate/repetitive documents, scrub PII, and
remix domain proportions — the operator families described in the public
C4 (T5), Gopher, and RefinedWeb dataset papers.

Design rules (same as operators/text.py):

- Pure ``pyspark.sql.functions`` expressions — every hot path stays
  inside whole-stage codegen; no Python UDF anywhere.
- Every operator has an exact DuckDB-SQL mirror in
  queries/llm_curation.py, so all of them are hash-checkable by the
  driver oracle (counts + single IEEE divisions only).
- Candidate generation is always an equi-join on a computed key (gram,
  stratum, hash prefix) — never a theta/cross join — so each plan keeps
  the 100 TB shuffle shape of the LSH dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
    tokens,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
    shingles,
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def shingles_all(text_col: Column | str, k: int) -> Column:
    """All word k-grams of ``text_col`` WITH multiplicity (contrast
    :func:`operators.dedup.shingles`, which is set-valued): repetition
    statistics need duplicate grams preserved.  Same JVM-side build —
    ``transform`` over a position sequence, no explode until the caller
    wants rows.

    A NULL text or one shorter than ``k`` tokens yields an EMPTY array,
    the guard :func:`operators.dedup.shingles` carries: ``sequence(1, 0)``
    is ``[1, 0]`` (Spark sequences step downward), and ``element_at``
    at position 0 raises under ANSI, failing the whole job."""
    toks = tokens(text_col)
    n = F.size(toks)
    pos = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        pos,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram with an evaluation set (the overlap rule used to
    de-leak eval benchmarks from web-scale training corpora).

    Plan shape: both sides explode to DISTINCT (id, gram) rows; the
    contamination test is one equi-join on the gram string followed by a
    count per training document.  The eval side of the join is tiny
    relative to the corpus (benchmarks are a few thousand documents), so
    Catalyst/AQE broadcasts its distinct-gram set and the training side
    never shuffles — at 100 TB the whole operator pipelines with the
    corpus scan.  No broadcast hint: if someone passes a huge "eval" set
    the plan degrades to a shuffled equi-join instead of an OOM.

    Returns (id, n_shared_grams) for contaminated documents only —
    downstream drops them with the same anti-join the reference uses for
    dedup."""
    t_grams = train.select(
        _c(id_col).alias("_tid"), F.explode(shingles(text_col, n)).alias("gram")
    )
    e_grams = (
        evalset.select(F.explode(shingles(text_col, n)).alias("gram")).distinct()
    )
    return (
        t_grams.join(e_grams, "gram")
        .groupBy("_tid")
        .agg(F.count("*").alias("n_shared_grams"))
        .select(F.col("_tid").alias(id_col), "n_shared_grams")
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Corpus-frequent n-gram ("boilerplate") exposure per document: the
    C4 line-dedup idea restated for line-less text — a gram occurring in
    >= ``min_docs`` DISTINCT documents is boilerplate (navigation chrome,
    license headers, templates), and a document's boilerplate ratio is a
    curation signal.

    Two aggregations, both with map-side partial combine: document
    frequency per gram (the (id, gram) input is set-valued, so a plain
    ``count(*)`` IS the distinct-document count — no count-distinct
    shuffle), then per-document totals via one left join back on the
    gram.  Both shuffles are on keys with bounded skew (a gram's bucket
    is capped by its document frequency; the hot grams are exactly the
    boilerplate ones, and AQE splits them).

    Returns (id, n_grams, n_boiler, boiler_ratio) — ratio is one IEEE
    division, oracle-bit-equal."""
    sh = df.select(
        _c(id_col).alias("_bid"), F.explode(shingles(text_col, n)).alias("gram")
    )
    doc_freq = sh.groupBy("gram").agg(F.count("*").alias("df"))
    boiler = doc_freq.filter(F.col("df") >= min_docs).select("gram")
    flagged = sh.join(boiler.withColumn("_hit", F.lit(1)), "gram", "left")
    return (
        flagged.groupBy("_bid")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_boiler"),
        )
        .select(
            F.col("_bid").alias(id_col),
            "n_grams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_grams")).alias(
                "boiler_ratio"
            ),
        )
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
) -> DataFrame:
    """Intra-document repetition features (the Gopher/RefinedWeb
    degenerate-text filters): duplicate n-gram fraction and the share of
    the single most frequent n-gram, per document.

    Plan shape: explode grams WITH multiplicity, count per (doc, gram),
    then one more aggregate per doc — both keyed on the document id (or
    its refinement), so at scale this is two combine-friendly shuffles
    that co-partition; no joins at all.  Expressing the per-doc mode as
    an in-row higher-order fold would avoid the shuffle but is O(g^2)
    per document — quadratic in document length is the wrong trade at
    100 TB, where single documents reach 10^5 tokens.

    Returns (id, n_grams, n_distinct, dup_frac, top_share); filter
    ``dup_frac > tau`` downstream to drop degenerate documents."""
    g = df.select(
        _c(id_col).alias("_rid"),
        F.explode(shingles_all(text_col, n)).alias("gram"),
    )
    per_gram = g.groupBy("_rid", "gram").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy("_rid")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
        .select(
            F.col("_rid").alias(id_col),
            "n_grams",
            "n_distinct",
            (
                (F.col("n_grams") - F.col("n_distinct")).cast("double")
                / F.col("n_grams")
            ).alias("dup_frac"),
            (F.col("top_c").cast("double") / F.col("n_grams")).alias("top_share"),
        )
    )


#: PII patterns — written with ``[.]``/``[+]`` instead of backslash
#: escapes so the identical string is a valid regex in BOTH Java
#: (Spark) and RE2 (DuckDB), with no SQL-string escaping differences.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"
IPV4_RE = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

#: Redaction order matters: emails first (an email contains dots that the
#: IP pattern could partially match), then IPs, then phones.
_PII_ORDER = (
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
)


def pii_counts(text_col: Column | str) -> dict[str, Column]:
    """Match counts per PII class — ``regexp_extract_all`` + ``size``
    (vs ``regexp_count``) because DuckDB mirrors the extract-all form
    verbatim (``len(regexp_extract_all(..))``)."""
    c = _c(text_col)
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)),
        "n_ips": F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)),
    }


def pii_redact(text_col: Column | str) -> Column:
    """The scrubbed text: chained global ``regexp_replace`` in the fixed
    :data:`_PII_ORDER`.  Spark's regexp_replace is global by default;
    the DuckDB mirror passes the 'g' flag to match."""
    out = _c(text_col)
    for pat, token in _PII_ORDER:
        out = F.regexp_replace(out, pat, token)
    return out


def stratified_hash_sample(
    df: DataFrame,
    stratum_col: str,
    key: Column,
    fractions: dict[str, int],
    default_ceiling: int = 256,
) -> DataFrame:
    """Deterministic per-stratum subsampling by hash threshold — the
    domain-remixing primitive (down-weight over-represented sources,
    keep scarce ones), expressed so it needs NO shuffle at all.

    A row survives iff the first two hex chars of ``md5(key)`` sort
    below its stratum's ceiling (0..256, in 1/256 units): a pure
    per-row predicate, evaluated inside the scan — at 100 TB this is a
    full-speed filter with zero exchange, unlike ``row_number`` window
    sampling (one shuffle per stratum) or ``df.sample`` (seed- and
    partitioning-dependent, not reproducible across engines or reruns).
    md5 is engine-portable, so DuckDB draws the identical sample.

    ``fractions`` maps stratum value -> ceiling in 1/256 units (e.g.
    {"src0": 64} keeps ~25% of src0).  Unlisted strata use
    ``default_ceiling`` (256 = keep all)."""
    bucket = F.substring(F.md5(key), 1, 2)
    ceil_expr = F.lit(format(default_ceiling, "02x") if default_ceiling < 256 else "zz")
    for value, ceiling in sorted(fractions.items()):
        ceil_expr = F.when(
            _c(stratum_col) == value, F.lit(format(ceiling, "02x"))
        ).otherwise(ceil_expr)
    return df.filter(bucket < ceil_expr)


__all__ = [
    "shingles_all",
    "decontaminate",
    "boilerplate_ngram_stats",
    "repetition_stats",
    "pii_counts",
    "pii_redact",
    "stratified_hash_sample",
    "EMAIL_RE",
    "PHONE_RE",
    "IPV4_RE",
]


def chunk_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """C4-style exact chunk-level dedup WITH REWRITE: split every document
    into non-overlapping ``chunk_tokens``-token chunks, keep only the
    globally FIRST occurrence of each distinct chunk (ordered by
    (doc_id, chunk_no)), and reassemble each document from its surviving
    chunks.  Documents whose every chunk already appeared elsewhere come
    back with empty text — dropped content, stable row count.

    This is the line/paragraph-level dedup pass of C4/RefinedWeb (there
    the unit is a newline-delimited line; the fixture corpus is one-line
    documents, so the unit is a fixed token window) — the step that
    removes boilerplate *within* surviving documents, where document-level
    MinHash (operators/dedup.py) can only drop whole documents.

    Scale shape: one explode (n_chunks rows/doc), one hash aggregate on
    the chunk content for the winner key, one equi-join back, one
    groupBy-collect to reassemble — all map-side-combinable equi-shuffles
    on the chunk/doc keys.  At 100 TB, group winners by a 128-bit
    fingerprint of the chunk instead of the raw string so the shuffle
    carries 16-byte keys (here the raw string keeps the DuckDB oracle
    exact).  The winner key packs (doc_id, chunk_no) into one long
    (doc_id * 2^20 + chunk_no — fine while chunk_no < 2^20 and
    doc_id < 2^43); use a struct min at larger id ranges."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("t")
    )
    n_chunks = F.ceil(F.size("t") / F.lit(float(chunk_tokens))).cast("long")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(
                        "t", i * chunk_tokens + 1, chunk_tokens
                    ),
                    " ",
                ),
            )
        ).alias("chunk_no", "chunk"),
    )
    key = F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_no")
    winners = chunks.groupBy("chunk").agg(F.min(key).alias("wkey"))
    kept = (
        chunks.withColumn("key", key)
        .join(winners, "chunk")
        .filter(F.col("key") == F.col("wkey"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_no", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text"),
        F.count("*").alias("n_kept"),
    )
    base = toks.select("doc_id", F.size("t").alias("_n"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
    )
