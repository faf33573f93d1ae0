"""Dedup query surface over the ``documents`` fixture (operators/dedup.py).

Every query is fully oracle-checked (VERDICT r5 item 4): the signature
hash family is the engine-portable md5-derived 60-bit integer of
functions/hashfamily.py, so the DuckDB oracles below replay the ENTIRE
MinHash / OPH / SimHash pipelines — shingling, base hash, affine
permutations, banding, the candidate equi-join, and the exact-Jaccard /
Hamming verify — value-for-value.  Property tests with planted
near-duplicates (tests/test_dedup_ops.py) cover recall behavior the
replay can't (by construction both engines agree even on misses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.hashfamily import (
    MERSENNE_P,
    SHINGLE_C,
    h60_duck,
    minhash_perm_duck,
)

from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
    fingerprint,
)
from end_to_end_data_engineering_project_with_databricks_spark.functions.vectors import (
    sql_cosine,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_dups,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.similarity import (
    cosine_threshold_pairs_bucketed,
)
from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import query
from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# DuckDB replay-oracle generators for the signature pipelines.  The SQL is
# machine-generated from the SAME hashfamily constants the Spark operators
# use, so the two engines agree by construction; any change to shingling,
# hashing, banding, or verification flips the driver's value hash.
# ---------------------------------------------------------------------------

def _token_ctes(docs_where: str = "") -> str:
    """Tokenize/position prefix: ``docs`` (every row the predicate
    keeps, short documents included), ``eligible`` (>= 3 tokens) and
    ``pos`` (one row per 3-gram start).  Shared by the string-shingle
    chain and the hash-only replays (the r13 ensemble family reads
    ``hs`` exclusively and skips the string-gram build entirely)."""
    where = f" WHERE {docs_where}" if docs_where else ""
    return f"""
    docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents{where}),
    eligible AS (SELECT doc_id, toks FROM docs WHERE len(toks) >= 3),
    pos AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM eligible
    )"""


def _shingle_ctes(docs_where: str = "") -> str:
    """:func:`_token_ctes` plus ``sh(doc_id, shingle)``, the distinct
    per-doc 3-gram strings of operators/dedup.shingles, over the
    documents ``docs_where`` keeps (all of them when empty).

    ``sh`` is MATERIALIZED: every replay references it 2-3 times (counts
    + both join sides), and DuckDB 1.0 inlines CTEs per reference —
    without the hint the whole tokenize+unnest chain re-runs per
    reference (measured 3x the shingle work at 150k docs).  ``pos`` stays
    inline on purpose: its rows carry the full ``toks`` array, so
    materializing it would write docs x positions x |tokens| to the
    oracle's spill disk — the exact blow-up the r11 30x replay died on.

    The full-corpus text (:data:`_SHINGLE_CTES`) is what
    tests/oracle.accelerated swaps for the pre-materialized corpus
    shingles; a sliced chain differs in its ``docs`` line, so the
    rewrite leaves it alone."""
    return (
        _token_ctes(docs_where)
        + """,
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM pos
    )"""
    )


_TOKEN_CTES = _token_ctes()
_SHINGLE_CTES = _shingle_ctes()

_COUNTS_CTE = "counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"


def _jaccard_sql(src: str, threshold: float) -> str:
    """SELECT of the pairs of the overlap CTE ``src(id_a, id_b, inter)``
    whose Jaccard ``inter / (na + nb - inter)`` (sizes from ``counts``)
    reaches ``threshold`` — the single IEEE division the Spark emitters
    use."""
    return f"""SELECT p.id_a, p.id_b,
           CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) AS jaccard
    FROM {src} p
    JOIN counts ca ON p.id_a = ca.doc_id
    JOIN counts cb ON p.id_b = cb.doc_id
    WHERE CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) >= {threshold}"""


def _containment_sql(src: str, threshold: float) -> str:
    """``directed`` CTE plus final SELECT: each undirected overlap of
    ``src(id_a, id_b, inter)`` scored both ways (``inter/na`` as a in b,
    ``inter/nb`` as b in a), kept at containment >= ``threshold``."""
    return f"""
    directed AS (
      SELECT i.id_a AS id_small, i.id_b AS id_big,
             CAST(i.inter AS DOUBLE) / ca.n AS containment
      FROM {src} i JOIN counts ca ON i.id_a = ca.doc_id
      UNION ALL
      SELECT i.id_b, i.id_a, CAST(i.inter AS DOUBLE) / cb.n
      FROM {src} i JOIN counts cb ON i.id_b = cb.doc_id
    )
    SELECT id_small, id_big, containment
    FROM directed WHERE containment >= {threshold}
    """


def _exact_overlap_ctes(docs_where: str = "") -> str:
    """DuckDB replay of operators/dedup._ngram_overlap: the shingle
    chain, ``counts(doc_id, n)`` and ``pairs(id_a, id_b, inter)`` from
    the one shingle self-equi-join (id_a < id_b)."""
    return f"""{_shingle_ctes(docs_where)},
    {_COUNTS_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


def _exact_jaccard_ctes(threshold: float, docs_where: str = "") -> str:
    """The exact-pairs chain ending at ``jac(id_a, id_b, jaccard)``:
    replay of operators/dedup.ngram_jaccard_pairs, the exact truth set
    every Jaccard oracle below reads."""
    return f"""{_exact_overlap_ctes(docs_where)},
    jac AS (
      {_jaccard_sql("pairs", threshold)}
    )"""


#: shingle-HASH CTE replaying operators/dedup._hashed_shingle_docs: one
#: md5-60 per token position, positional SHINGLE_C combine mod P.
_HS_COMBINE = " + ".join(
    f"({SHINGLE_C[j]} * ({h60_duck(f'toks[i+{j}]')} % {MERSENNE_P})) % {MERSENNE_P}"
    for j in range(3)
)
_HS_CTE = f"""
    hs AS (
      SELECT DISTINCT doc_id, ({_HS_COMBINE}) % {MERSENNE_P} AS h
      FROM pos
    )"""

#: MATERIALIZED variant for replays that reference ``hs`` more than
#: once (the ensemble family: sig + counts + sets) — DuckDB 1.0 inlines
#: a plain CTE per reference, re-running the tokenize+hash chain each
#: time (the r12 banding-oracle lesson).
_HS_CTE_MAT = _HS_CTE.replace("hs AS (", "hs AS MATERIALIZED (", 1)


def _band_cte_sql(src: str, bands: int = 16, rows_per_band: int = 4) -> str:
    """(doc_id, band, bh) rows from a 64-column signature CTE ``src``
    with columns s0..s63 — ``bh = h60('s_i:s_j:s_k:s_l')``, mirroring
    operators/dedup._band_structs_sql.

    ONE scan of ``src``: all band hashes are computed in a single
    projection and exploded via struct-unnest.  The r1-r11 form was a
    ``bands``-way UNION ALL, one SELECT per band — DuckDB 1.0 inlines a
    CTE per reference, so every arm re-evaluated the ENTIRE upstream
    signature chain (measured: 64 x at 50k docs turned a 0.9 s signature
    pass into 393 s and was the root cause of the 30x ensemble-oracle
    spill-disk death, docs/SCALE.md).  Values are bit-identical: the bh
    expression per band is unchanged, only the scan count differs."""
    entries = []
    for b in range(bands):
        concat = " || ':' || ".join(
            f"CAST(s{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        entries.append(
            f"{{'band': {b}, 'bh': {h60_duck('(' + concat + ')')}}}"
        )
    structs = ",\n        ".join(entries)
    return (
        "SELECT doc_id, u.band AS band, u.bh AS bh FROM (\n"
        f"        SELECT doc_id, unnest([\n        {structs}\n        ]) AS u"
        f" FROM {src}\n      )"
    )


def _cand_cte(pair_filter: str = "") -> str:
    """Distinct band-sharing pairs of a ``bands`` CTE; ``pair_filter``
    optionally restricts them (the incremental query's
    increment-touching set)."""
    return f"""cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      {pair_filter}
    )"""


def _lsh_overlap_ctes(pair_filter: str = "") -> str:
    """Candidate join plus exact shingle overlap over a ``bands`` CTE
    (and the shingle CTEs): ``cand``, ``counts`` and
    ``inter(id_a, id_b, inter)``, the verify input of every banded
    replay."""
    return f"""
    {_cand_cte(pair_filter)},
    {_COUNTS_CTE},
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY c.id_a, c.id_b
    )"""


def _lsh_verify_sql(threshold: float, pair_filter: str = "") -> str:
    """Shared candidate-join + exact-Jaccard verify over a ``bands`` CTE
    (plus the shingle CTEs)."""
    return f"""{_lsh_overlap_ctes(pair_filter)}
    {_jaccard_sql("inter", threshold)}"""


def _sig_cte_sql() -> str:
    """The 64-permutation MinHash signature CTE over ``hs`` — shared by
    every MinHash replay (Jaccard, containment, ensemble, recall
    audit).  MATERIALIZED:
    the ensemble replay's three banding CTEs each reference it, and
    DuckDB 1.0 re-inlines (= recomputes) a plain CTE per reference."""
    sig_cols = ",\n             ".join(
        f"MIN({minhash_perm_duck(i, 'h')}) AS s{i}" for i in range(64)
    )
    return f"""sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_cols}
      FROM hs GROUP BY doc_id
    )"""


#: ``hs`` -> ``sig`` -> 16x4 ``bands``: the minhash_lsh_dedup signature
#: and banding chain, read after a chain that defines ``pos``.
_MINHASH_BANDS_CTES = f"""{_HS_CTE},
    {_sig_cte_sql()},
    bands AS (
      {_band_cte_sql('sig')}
    )"""


def _minhash_replay_sql(threshold: float, pair_filter: str = "") -> str:
    """Full DuckDB replay of minhash_lsh_dedup: 64 affine-permutation
    minima over the mod-P base hash, 16x4 banding, candidate equi-join,
    exact-Jaccard verify."""
    return f"""
    WITH {_SHINGLE_CTES},{_MINHASH_BANDS_CTES},{_lsh_verify_sql(threshold, pair_filter)}
    """


def _containment_lsh_replay_sql(threshold: float = 0.8) -> str:
    """Full DuckDB replay of operators/dedup.containment_lsh_pairs:
    the minhash_lsh_dedup signature+banding chain, then the ASYMMETRIC
    containment verify in both directions per unordered candidate."""
    return f"""
    WITH {_SHINGLE_CTES},{_MINHASH_BANDS_CTES},{_lsh_overlap_ctes()},{_containment_sql("inter", threshold)}"""


def _oph_replay_sql(threshold: float) -> str:
    """Full DuckDB replay of oph_minhash_lsh_dedup: per-slot minima of
    the combined shingle hash (slot = h % 64), rotation densification as
    a 64-way COALESCE (NULL is the empty-slot sentinel — COALESCE over
    the clockwise rotation IS the densification), then the shared
    banding and verify."""
    raw_cols = ",\n             ".join(
        f"MIN(CASE WHEN h % 64 = {j} THEN h END) AS r{j}" for j in range(64)
    )
    dens_cols = ",\n             ".join(
        "COALESCE(" + ", ".join(f"r{(j + k) % 64}" for k in range(64)) + f") AS s{j}"
        for j in range(64)
    )
    return f"""
    WITH {_SHINGLE_CTES},{_HS_CTE},
    raw AS (
      SELECT doc_id,
             {raw_cols}
      FROM hs GROUP BY doc_id
    ),
    dens AS (
      SELECT doc_id,
             {dens_cols}
      FROM raw
    ),
    bands AS (
      {_band_cte_sql('dens')}
    ),{_lsh_verify_sql(threshold)}
    """


def _simhash_replay_sql(max_hamming: int = 3) -> str:
    """Full DuckDB replay of simhash_near_dups: 60 per-bit +1/-1 votes
    over the multiset of token hashes, 4x15-bit banding, pigeonhole
    candidate join, exact Hamming verify."""
    fp_terms = "\n           + ".join(
        f"(CASE WHEN SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (SELECT doc_id, {h60_duck('t')} AS h FROM tok),
    fp AS (
      SELECT doc_id,
             {fp_terms}
             AS fp
      FROM th GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, fp, b.band, (fp >> (b.band * 15)) & 32767 AS bv
      FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.fp AS fp_a, b.fp AS fp_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


@query(
    "dedup_exact_documents",
    oracle="""
    SELECT text, MIN(doc_id) AS canonical_id, COUNT(*) AS n_members
    FROM documents
    GROUP BY text
    """,
    tags=("dedup", "agg"),
    bench=True,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one hash aggregate keyed on the text, min id
    as canonical.  At 100 TB, group on fingerprint(text) instead so the
    shuffle key is 32 bytes, not the document."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id")


@query(
    "dedup_fingerprint_md5",
    oracle="""
    SELECT md5(lower(text)) AS fp, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY md5(lower(text))
    """,
    tags=("dedup", "agg"),
)
def dedup_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: group on md5(lower(text)) — the constant-width
    shuffle-key variant of exact dedup (case-normalized)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_members")
    )


@query(
    "dedup_cross_source_leakage",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_fp,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY prefix_fp
    HAVING COUNT(DISTINCT source) >= 2
    """,
    tags=("dedup", "agg", "leakage"),
)
def dedup_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap audit: documents whose truncated content
    fingerprint (md5 of the first 8 tokens) appears in >= 2 DISTINCT
    sources — the train/test-contamination shape of dedup, where the
    question is not "is this row duplicated" but "does content leak
    across corpus partitions".  One hash aggregate on a 32-byte key with
    a distinct-count on the low-cardinality source column; partial
    aggregation keeps the shuffle at one row per (fp, source) — no plan
    change at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
    return (
        d.groupBy(fp.alias("prefix_fp"))
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_exact_jaccard_ctes(0.05, "doc_id < 200")}
    SELECT id_a, id_b, jaccard FROM jac
    """,
    tags=("dedup", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard similarity pairs on a bounded
    subset (operators/dedup.ngram_jaccard_pairs): explode distinct
    shingles, self-equi-join on the shingle to count intersections
    (never a cross join), derive |union| from the two set sizes.  This
    is the exact baseline the MinHash path approximates;
    the doc_id bound is the driver for demo purposes — at scale the same
    plan runs behind LSH candidate filtering."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_k=3, threshold=0.05)


@query(
    "dedup_minhash_accuracy",
    oracle=f"""
    WITH {_exact_jaccard_ctes(0.05, "doc_id < 200")}
    SELECT id_a, id_b, jaccard, TRUE AS minhash_ok FROM jac
    """,
    tags=("dedup", "approx", "accuracy"),
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKABLE face of the MinHash family (the bounded-check
    pattern of agg_approx_percentile / sim_ivf_recall applied to
    signatures): for every exact-Jaccard pair on the bounded slice, the
    64-permutation signature estimate (matching-minima fraction) must
    land within 0.25 of the exact value — measured max deviation on the
    fixtures is 0.019, so the boolean is stable TRUE unless the
    signature build itself breaks (wrong shingle set, wrong hash fold,
    truncated signature all flip it).  Signatures are deterministic
    (xxhash64 seeds, order-independent minima), so the output is exact
    despite the estimator being approximate; the raw LSH candidate
    surface keeps its rows-only twin (dedup_minhash_lsh)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    exact = ngram_jaccard_pairs(d, "doc_id", "text", shingle_k=3, threshold=0.05)
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=64, shingle_k=3)
    est = (
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
            " 0, (acc, v) -> acc + v)"
        )
        / F.lit(64.0)
    )
    return (
        exact.join(sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= 0.25).alias("minhash_ok"),
        )
    )


@query(
    "dedup_simhash_accuracy",
    oracle=f"""
    WITH {_exact_jaccard_ctes(0.05, "doc_id < 200")},
    tc AS (
      SELECT doc_id, t AS tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 200)
      GROUP BY doc_id, t
    ),
    n2 AS (SELECT doc_id, SUM(c * c) AS n2 FROM tc GROUP BY doc_id),
    dp AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, SUM(x.c * y.c) AS dp
      FROM tc x JOIN tc y ON x.tok = y.tok AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT j.id_a, j.id_b,
           CAST(d.dp AS DOUBLE) / (sqrt(a.n2) * sqrt(b.n2)) AS cos_exact,
           TRUE AS simhash_ok
    FROM jac j
    JOIN dp d ON d.id_a = j.id_a AND d.id_b = j.id_b
    JOIN n2 a ON a.doc_id = j.id_a
    JOIN n2 b ON b.doc_id = j.id_b
    """,
    tags=("dedup", "approx", "accuracy"),
)
def dedup_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-check oracle for SimHash (completing the accuracy trio
    with dedup_minhash_accuracy and sim_ivf_recall): SimHash's Hamming
    distance estimates the ANGLE between token-count vectors, so for
    every exact-Jaccard candidate pair the estimate
    ``cos(pi * hamming/60)`` must land within 0.25 of the exact
    count-vector cosine (60 = fingerprint width of the md5-derived
    family; measured max deviation 0.033 on the fixtures).  The exact
    cosine uses integer dot products and norms with correctly-rounded
    sqrt — bit-equal across engines — while the boolean is Spark-side
    only.  Any signature defect (wrong bit vote, wrong multiset
    weighting, truncated fingerprint) flips the boolean; the raw pair
    surface now carries its own full replay oracle (dedup_simhash)."""
    import math

    from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
        tokens,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _h60,
        simhash64,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_k=3, threshold=0.05
    ).select("id_a", "id_b")
    tc = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n2 = tc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    dp = (
        tc.alias("x")
        .join(tc.alias("y"), "tok")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .agg(F.sum(F.col("x.c") * F.col("y.c")).alias("dp"))
    )
    fps = d.select(
        "doc_id",
        F.transform(F.split("text", " "), _h60).alias("h"),
    ).select("doc_id", simhash64("h", n_bits=60).alias("fp"))
    cos_exact = F.col("dp").cast("double") / (F.sqrt("n2a") * F.sqrt("n2b"))
    est = F.cos(F.lit(math.pi) * F.col("ham") / F.lit(60.0))
    return (
        jpairs.join(dp, ["id_a", "id_b"])
        .join(n2.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2a")), "id_a")
        .join(n2.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2b")), "id_b")
        .join(fps.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fpa")), "id_a")
        .join(fps.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fpb")), "id_b")
        .withColumn("ham", F.bit_count(F.col("fpa").bitwiseXOR(F.col("fpb"))))
        .select(
            "id_a",
            "id_b",
            cos_exact.alias("cos_exact"),
            (F.abs(est - cos_exact) <= 0.25).alias("simhash_ok"),
        )
    )


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_replay_sql(threshold=0.5),
    tags=("dedup", "approx"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands x 4) near-dup pairs over the full
    documents table, verified with exact Jaccard >= 0.5.  Candidate
    generation is O(n x bands) via equi-join on band hashes — the shape
    that survives 100 TB (tests plant near-duplicates and assert recall
    against the exact-Jaccard baseline).

    Full value-hash oracle (VERDICT r5 item 4): the md5-derived affine
    hash family (functions/hashfamily.py) is bit-reproducible in DuckDB,
    so the oracle replays signatures, banding, the candidate join, and
    the exact-Jaccard verify end-to-end — any change in any stage flips
    the hash, including which pairs the banding MISSES."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_k=3, threshold=0.5
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.6
    ),
    neighbors AS (
      SELECT id_a AS vec_id, id_b AS nid FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
      UNION ALL SELECT vec_id, vec_id FROM e
    )
    SELECT vec_id, MIN(nid) AS canonical_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_neighbors
    FROM neighbors GROUP BY vec_id
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup dedup: cosine >= 0.6 pairs from banded
    sign-LSH candidate generation + EXACT cosine verification
    (bit-reproducible vector fold — functions/vectors.py), neighbor lists
    symmetrized, canonical = min neighbor id (one-hop; full transitive
    closure is the iterative extension).

    Scale shape: the candidate join is an equi-join on (band, band-bits)
    — the plan contains no theta/cartesian node (asserted in
    tests/test_plan_shapes.py), so the pipeline survives an unbounded
    corpus.  Exact verification makes false positives impossible; the
    one-sided miss probability at the 0.6 threshold is ~1% per pair and
    ~4e-8 for true near-dups (cos >= 0.95), and
    tests/test_similarity_ops.py asserts parity with the exact all-pairs
    baseline on this corpus and on planted near-dups."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    pairs = cosine_threshold_pairs_bucketed(e, threshold=0.6, dim=64).select(
        "id_a", "id_b"
    )
    neighbors = (
        pairs.select(F.col("id_a").alias("vec_id"), F.col("id_b").alias("nid"))
        .unionAll(pairs.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("nid")))
        .unionAll(e.select("vec_id", F.col("vec_id").alias("nid")))
    )
    return neighbors.groupBy("vec_id").agg(
        F.min("nid").alias("canonical_id"),
        (F.count("*") - 1).alias("n_neighbors"),
    )


@query(
    "dedup_simhash",
    oracle=_simhash_replay_sql(max_hamming=3),
    tags=("dedup", "approx"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit, md5-derived base hash) near-dup pairs at Hamming
    distance <= 3, banded 4x15-bit blocking (pigeonhole-complete for
    d<=3).  Full value-hash oracle: the DuckDB replay recomputes the
    per-bit votes, fingerprints, banding, and Hamming verify from the
    same hash family (functions/hashfamily.py)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dups(d, "doc_id", "text", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


#: Exact 3-gram Jaccard >= 0.02 edges over doc_id < 1000, symmetrized,
#: closed by a recursive min-label reach: ``comp(doc_id, component)``,
#: the replay of operators/dedup.connected_components over
#: ngram_jaccard_pairs that both clustering queries run.
_COMPONENTS_CTES = f"""{_exact_jaccard_ctes(0.02, "doc_id < 1000")},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM jac
      UNION ALL SELECT id_b, id_a FROM jac
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
      FROM reach GROUP BY node
    )"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES}
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
    FROM comp
    """,
    tags=("dedup", "iterative", "graph"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup clustering: exact 3-shingle Jaccard pairs
    (>= 0.02, doc_id < 1000) as the edge set, then connected components
    (operators/dedup.connected_components) — the step that turns pairwise
    near-dup measurements into keep-one-per-cluster groups (A~B, B~C ->
    one cluster even when A~C was never measured).  On the Spark side a
    quotient graph within ``CC_DRIVER_BOUND`` edges (every fixture tier)
    is solved by a min-root union-find on the driver after one bounded
    collect; a larger one first runs join + min-aggregate label rounds
    until it fits.  The oracle is DuckDB's
    recursive CTE computing the same closure — the one query pairing an
    iterative DataFrame algorithm with a recursive SQL oracle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_k=3, threshold=0.02
    ).select("id_a", "id_b")
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    from pyspark.sql.window import Window

    return comp.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("component")).cast("long"),
    )


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    member AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, m.n_chars
      FROM docs d
      LEFT JOIN comp c ON d.doc_id = c.doc_id
      JOIN (SELECT doc_id, n_chars FROM documents) m ON d.doc_id = m.doc_id
    )
    SELECT doc_id, component,
           CAST(doc_id = FIRST_VALUE(doc_id) OVER (
             PARTITION BY component ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS BOOLEAN) AS is_canonical
    FROM member
    """,
    tags=("dedup", "graph", "curation", "window"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster canonical selection — the step AFTER
    near-dup clustering that decides which member survives into the
    training corpus: longest document wins (n_chars as the quality
    proxy; swap in the Gopher score in production), ties to the lowest
    doc_id; docs in no cluster are their own singleton component.

    Shape: the exact-Jaccard edge pipeline + min-label closure of
    dedup_connected_components, then one left join back to the corpus
    and a per-component FIRST_VALUE window.  At 100 TB the edge set
    comes from MinHash-LSH instead (operators/dedup.minhash_lsh_dedup)
    and everything downstream — closure, membership join, canonical
    window — is unchanged; the window shuffles on component, whose
    cardinality is the number of clusters, not documents."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_k=3, threshold=0.02
    ).select("id_a", "id_b")
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    member = (
        d.select("doc_id", "n_chars")
        .join(comp.select("doc_id", "component"), "doc_id", "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("doc_id")))
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return member.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_canonical"),
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_exact_overlap_ctes("doc_id < 600")},{_containment_sql("pairs", 0.8)}""",
    tags=("dedup", "containment", "curation"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT detection — the quote/subset case
    Jaccard misses: containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)| is
    high when document A is substantially quoted inside a much larger B,
    even though their symmetric Jaccard is tiny.  Standard curation step
    for boilerplate chains and wholesale quoting.

    Shape: the same exact overlap relation as the Jaccard path
    (operators/dedup.ngram_containment_pairs — no cross join; the
    shingle equi-join IS the candidate generator): each UNDIRECTED pair
    (id_a < id_b) is counted once, then scored in both directions,
    ``inter/na`` as (a in b) and ``inter/nb`` as (b in a), so the join
    carries half the rows a directed ``!=`` self-join would.  At 100 TB
    the shingle join is replaced by the MinHash band join exactly as in
    minhash_lsh_dedup; containment re-verifies on candidates only.
    Single IEEE division keeps the score bit-equal to the oracle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    return ngram_containment_pairs(d, "doc_id", "text", shingle_k=3, threshold=0.8)


@query(
    "dedup_containment_lsh",
    oracle=_containment_lsh_replay_sql(threshold=0.8),
    tags=("dedup", "containment", "approx", "lsh", "curation"),
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment's documented 100 TB path made real
    (operators/dedup.containment_lsh_pairs): candidate generation is the
    MinHash 16x4 band join — linear in corpus size, the measured
    exponent-1.000 pipeline — and the asymmetric containment
    ``|sh(A) ∩ sh(B)| / |sh(A)|`` verifies on candidates only, scored in
    both directions per unordered pair.  Runs on the FULL corpus (the
    exact query bounds itself to doc_id < 600 precisely because its raw
    shingle join carries the corpus-frequent-gram quadratic hazard this
    path removes).

    Recall trade stated where it bites: banding recalls by Jaccard, so
    an extreme-size-ratio quote (high containment, low Jaccard) can be
    missed — LSH Ensemble-style size-partitioned banding is the
    published fix; tests/test_dedup_ops.py measures this path's recall
    against the exact operator on the fixtures.  Full value-hash
    oracle: signatures, banding, candidates, and both directed verifies
    replay from the shared hash family."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        containment_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return containment_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_k=3, threshold=0.8
    )


#: Equi-depth tertile split points of the per-doc shingle-count
#: histogram — the DuckDB half of operators/dedup.strata_split_points
#: (``cdf*3 >= n_total`` over exact BIGINT counts; NULL bounds on an
#: empty corpus disable every arm, matching the operator's empty
#: output).  Assumes a ``counts(doc_id, n)`` CTE in scope.  Aliases
#: deliberately avoid bare ``n`` (DuckDB's binder is case-insensitive;
#: an ``N`` alias would capture the ``counts.n`` column).
_STRATA_BOUNDS_CTES = """hist AS (SELECT n AS sz, COUNT(*) AS cnt FROM counts GROUP BY n),
    cumh AS (SELECT sz, SUM(cnt) OVER (ORDER BY sz) AS cdf FROM hist),
    strata_bounds AS MATERIALIZED (
      SELECT (SELECT MIN(sz) FROM cumh
              WHERE cdf*3 >= (SELECT COUNT(*) FROM counts)) AS split_lo,
             (SELECT MIN(sz) FROM cumh
              WHERE cdf*3 >= 2*(SELECT COUNT(*) FROM counts)) AS split_hi
    )"""


def _containment_ensemble_replay_sql(threshold: float = 0.8) -> str:
    """Full DuckDB replay of containment_lsh_ensemble_pairs: shared
    signature CTE, one banding CTE per stratum scheme, the size-gated
    candidate union, and the directed containment verify.

    Since r13 the stratum size BOUNDS are replayed as CORPUS-DERIVED
    values (VERDICT r12 item 3): the ``strata_bounds`` CTE computes the
    same equi-depth tertile split points as
    operators/dedup.strata_split_points (``cdf*3 >= n_total`` over the
    exact size histogram — pure integer algebra, bit-identical on both
    engines), and the candidate arms gate on scalar subqueries against
    it instead of fixture literals.  ``strata_bounds`` is MATERIALIZED:
    each of the three arms references it twice, and DuckDB's
    CTE-per-reference inlining would otherwise re-evaluate the
    histogram chain six times (the r12 banding-oracle lesson).

    BOUNDED-MEMORY form (VERDICT r11 item 2): the verify intersects
    per-doc shingle LISTs (``list_intersect`` — exact set semantics,
    ``hs`` is DISTINCT per doc), mirroring the engine's array verify,
    instead of re-joining the corpus shingle relation per candidate —
    the r11 30x replay of that join streamed |cand| x ~52 shingle rows
    (~800M) through two hash joins and died on oracle spill disk; the
    list verify's working set is per-pair.  A zero-overlap candidate
    yields novl=0 here vs no row in the join form — identical output
    rows for any threshold > 0.

    HASHED sets (r13 optimization round): counts and the verify sets
    read ``hs`` (the per-doc distinct HASHED shingles — the exact sets
    the signatures minhash) instead of the string-gram ``sh``, in
    lockstep with the engine (operators/dedup.py): both engines compute
    the identical md5-derived combine, so they agree bit-exactly by
    construction at any scale, and the full ensemble output was
    verified bit-identical to the string-set form on every fixture
    (per-doc counts: 0 mismatches at sf0.001/0.01/0.1).  ``hs`` is
    MATERIALIZED here (sig + counts + sets reference it) and the
    string ``sh`` CTE is omitted entirely — the ensemble replay no
    longer builds gram strings at all."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ensemble_schemes,
    )

    size_preds = (
        "ci.n < (SELECT split_lo FROM strata_bounds)",
        "ci.n >= (SELECT split_lo FROM strata_bounds)"
        " AND ci.n < (SELECT split_hi FROM strata_bounds)",
        "ci.n >= (SELECT split_hi FROM strata_bounds)",
    )
    band_ctes, cand_arms = [], []
    for k, (bands, rows) in enumerate(ensemble_schemes(64)):
        band_ctes.append(f"bands{k} AS (\n      {_band_cte_sql('sig', bands, rows)}\n    )")
        cand_arms.append(
            f"""SELECT q.doc_id AS id_q, i.doc_id AS id_i
      FROM bands{k} q
      JOIN bands{k} i ON q.band = i.band AND q.bh = i.bh
      JOIN counts ci ON i.doc_id = ci.doc_id
      WHERE {size_preds[k]} AND q.doc_id <> i.doc_id"""
        )
    bands_joined = ",\n    ".join(band_ctes)
    arms_joined = "\n      UNION\n      ".join(cand_arms)
    return f"""
    WITH {_TOKEN_CTES},{_HS_CTE_MAT},
    {_sig_cte_sql()},
    counts AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
    {_STRATA_BOUNDS_CTES},
    {bands_joined},
    cand AS (
      {arms_joined}
    ),
    sets AS MATERIALIZED (SELECT doc_id, list(h) AS s FROM hs GROUP BY doc_id),
    inter AS (
      SELECT c.id_q, c.id_i,
             len(list_intersect(sq.s, si.s)) AS novl
      FROM cand c
      JOIN sets sq ON sq.doc_id = c.id_q
      JOIN sets si ON si.doc_id = c.id_i
    )
    SELECT i.id_q AS id_small, i.id_i AS id_big,
           CAST(i.novl AS DOUBLE) / cq.n AS containment
    FROM inter i JOIN counts cq ON i.id_q = cq.doc_id
    WHERE CAST(i.novl AS DOUBLE) / cq.n >= {threshold}
    """


@query(
    "dedup_containment_ensemble",
    oracle=_containment_ensemble_replay_sql(threshold=0.8),
    tags=("dedup", "containment", "approx", "lsh", "ensemble", "curation"),
)
def dedup_containment_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment search with SIZE-STRATIFIED banding (LSH Ensemble,
    Zhu et al. VLDB'16 — operators/dedup.containment_lsh_ensemble_pairs):
    the index partitions by shingle-set size and each stratum's banding
    is tuned to the Jaccard a containment-qualified pair has against
    sets THAT size (16x4 / 32x2 / 64x1 for small/medium/large), so the
    extreme-size-ratio quotes dedup_containment_lsh's single global
    banding misses become recallable.  tests/test_dedup_ops.py pins
    ensemble recall >= plain-LSH recall against the exact operator.

    Full value-hash oracle: signatures, all three banding schemes, the
    size-gated candidate union, and the directed verify replay from the
    shared hash family."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return containment_lsh_ensemble_pairs(
        d, "doc_id", "text", num_hashes=64, shingle_k=3, threshold=0.8
    )


def _envelope_route_oracle(threshold: float = 0.8) -> str:
    """DuckDB replay of dedup_ensemble_envelope_route: the routing
    inputs (exact row arithmetic), the route CASE with the SAME pricing
    constants the operator imports, and a decision-invariant summary of
    the ensemble output (replayed via the full ensemble oracle)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _BROADCAST_BUDGET_BYTES,
        _BROADCAST_BYTES_PER_ROW,
        ensemble_schemes,
    )

    bands_total = sum(b for b, _ in ensemble_schemes(64))
    ens_sql = _containment_ensemble_replay_sql(threshold=threshold)
    return f"""
    SELECT s.n_docs, s.shingle_rows, s.band_rows,
           CASE WHEN GREATEST(s.band_rows, s.shingle_rows + s.n_docs)
                     * {_BROADCAST_BYTES_PER_ROW} > {_BROADCAST_BUDGET_BYTES}
                THEN 'oversized_disk_merge' ELSE 'in_memory_broadcast'
           END AS route,
           p.n_pairs, p.n_contained, p.max_containment
    FROM (
      WITH {_TOKEN_CTES},{_HS_CTE}
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS shingle_rows,
             CAST(COUNT(*) * {bands_total} AS BIGINT) AS band_rows
      FROM (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id)
      WHERE n >= 1
    ) s, (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT id_small) AS BIGINT) AS n_contained,
             MAX(containment) AS max_containment
      FROM ({ens_sql}) e
    ) p
    """


@query(
    "dedup_ensemble_envelope_route",
    oracle=_envelope_route_oracle(threshold=0.8),
    tags=("dedup", "ensemble", "decision", "routing", "curation"),
)
def dedup_ensemble_envelope_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ensemble dedup's MEMORY-ENVELOPE ROUTING exposed as an
    attested decision (the r12 envelope work in driver-checkable form,
    same recipe as join_cms_adaptive_strategy): the routing inputs are
    exact row arithmetic — band_rows = sum(strata bands) x n_docs,
    shingle_rows = sum of per-doc distinct-shingle counts — and the
    route prices the largest would-be in-memory relation at
    ~48 B/row against a 64 MB budget
    (operators/dedup.containment_lsh_ensemble_pairs): inside it, the
    operator keeps memory-backed checkpoints and optimizer-chosen
    broadcasts; above it, DISK_ONLY checkpoints + merge-pinned band
    join + stage-broken dedup + shuffle-hash verify (measured at the
    10x probe: the route is what turns the stock-1 GiB OOM into a
    16/16 pass, docs/SCALE.md round-12).

    Decision-invariance is the oracle's teeth: alongside the replayed
    decision columns, the row carries a summary of the ensemble's
    actual OUTPUT (pair count, distinct contained docs, max
    containment — order-independent, bit-exact aggregates), so a route
    that changed the answer would hash-mismatch.  Both plan branches
    are pinned in tests/test_round12_ops.py.

    The two 1-row aggregates meet in a crossJoin — broadcast 1-row x
    1-row, the allow-listed audit-spine pattern; nothing data-sized
    crosses the driver."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _BROADCAST_BUDGET_BYTES,
        _BROADCAST_BYTES_PER_ROW,
        containment_lsh_ensemble_pairs,
        ensemble_schemes,
    )

    bands_total = sum(b for b, _ in ensemble_schemes(64))
    d = load_table(spark, sf_dir, "documents")
    pairs = containment_lsh_ensemble_pairs(
        d, "doc_id", "text", num_hashes=64, shingle_k=3, threshold=0.8
    )
    summary = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("id_small").cast("long").alias("n_contained"),
        F.max("containment").alias("max_containment"),
    )
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _hashed_shingle_docs,
    )

    # no n >= 1 filter: _hashed_shingle_docs already drops gram-less
    # docs (every surviving doc has >= 1 shingle), and a predicate on
    # the aliased computed column would be pushed below the projection
    # and re-evaluate the whole tokenize+md5+combine chain per row —
    # measured 50 s vs 0.3 s at sf0.1 (the repo-wide
    # computed-array-filter trap).
    stats = (
        _hashed_shingle_docs(d, "doc_id", "text", 3)
        .select(F.size("_sh").alias("n"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("shingle_rows"),
        )
        .withColumn(
            "band_rows", (F.col("n_docs") * F.lit(bands_total)).cast("long")
        )
    )
    priced = F.greatest(
        F.col("band_rows"), F.col("shingle_rows") + F.col("n_docs")
    ) * F.lit(_BROADCAST_BYTES_PER_ROW)
    return stats.crossJoin(summary).select(
        "n_docs",
        "shingle_rows",
        "band_rows",
        F.when(
            priced > F.lit(_BROADCAST_BUDGET_BYTES), F.lit("oversized_disk_merge")
        )
        .otherwise(F.lit("in_memory_broadcast"))
        .alias("route"),
        "n_pairs",
        "n_contained",
        "max_containment",
    )


def _auto_strata_oracle(threshold: float = 0.8) -> str:
    """DuckDB replay of dedup_ensemble_auto_strata: the equi-depth
    split-point derivation (the same _STRATA_BOUNDS_CTES integer
    algebra the ensemble replay gates on), the fixed scheme ladder as
    a literal, and the decision-invariant summary of the ensemble
    output under those derived strata."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ensemble_schemes,
    )

    schemes = "|".join(f"{b}x{r}" for b, r in ensemble_schemes(64))
    ens_sql = _containment_ensemble_replay_sql(threshold=threshold)
    return f"""
    SELECT s.n_sized, s.split_lo, s.split_hi, '{schemes}' AS schemes,
           p.n_pairs, p.n_contained, p.max_containment
    FROM (
      WITH {_TOKEN_CTES},{_HS_CTE},
      counts AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
      {_STRATA_BOUNDS_CTES}
      SELECT CAST((SELECT COUNT(*) FROM counts) AS BIGINT) AS n_sized,
             CAST(split_lo AS BIGINT) AS split_lo,
             CAST(split_hi AS BIGINT) AS split_hi
      FROM strata_bounds
    ) s, (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT id_small) AS BIGINT) AS n_contained,
             MAX(containment) AS max_containment
      FROM ({ens_sql}) e
    ) p
    """


@query(
    "dedup_ensemble_auto_strata",
    oracle=_auto_strata_oracle(threshold=0.8),
    tags=("dedup", "ensemble", "decision", "strata", "curation"),
)
def dedup_ensemble_auto_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ensemble dedup's CORPUS-DERIVED STRATA exposed as an attested
    decision (VERDICT r12 item 3, the auto_n_cells recipe applied to
    the last fixture-calibrated knob): ``split_lo``/``split_hi`` are
    the equi-depth tertile split points of the per-doc shingle-count
    histogram (operators/dedup.strata_split_points — deterministic
    ``cdf*3 >= n_total`` integer algebra over exact counts, the LSH
    Ensemble paper's own equi-depth partitioning rule), ``schemes`` is
    the fixed (bands x rows) ladder they anchor
    (operators/dedup.auto_ensemble_strata), and since r13 this derived
    form IS the default path of
    operators/dedup.containment_lsh_ensemble_pairs (explicit strata
    stay available as the override).

    Decision-invariance teeth, same as the envelope route: the row
    carries order-independent aggregates of the ensemble's actual
    OUTPUT under the derived strata (pair count, distinct contained
    docs, max containment), so a derivation drift that changed the
    answer would hash-mismatch, and the DuckDB oracle re-derives the
    split points from scratch.

    Plan shape: the split-point derivation is one bounded hash-agg into
    the size HISTOGRAM (one row per distinct size — metadata-sized at
    any corpus scale) plus a running sum windowed over that histogram;
    the unpartitioned window is over the bounded histogram, never the
    corpus (allow-listed in tests/test_registry_plan_hygiene.py).  The
    1-row bounds aggregate meets the 1-row output summary in a
    crossJoin — the allow-listed audit-spine pattern; nothing
    data-sized crosses the driver."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
        ensemble_schemes,
        strata_split_points,
    )

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _hashed_shingle_docs,
    )

    d = load_table(spark, sf_dir, "documents")
    counts = _hashed_shingle_docs(d, "doc_id", "text", 3).select(
        F.size("_sh").alias("n")
    )
    bounds = strata_split_points(counts).select(
        F.coalesce(F.col("n_sized"), F.lit(0)).cast("long").alias("n_sized"),
        "split_lo",
        "split_hi",
    )
    pairs = containment_lsh_ensemble_pairs(
        d, "doc_id", "text", num_hashes=64, shingle_k=3, threshold=0.8
    )
    summary = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("id_small").cast("long").alias("n_contained"),
        F.max("containment").alias("max_containment"),
    )
    schemes = "|".join(f"{b}x{r}" for b, r in ensemble_schemes(64))
    return bounds.crossJoin(summary).select(
        "n_sized",
        "split_lo",
        "split_hi",
        F.lit(schemes).alias("schemes"),
        "n_pairs",
        "n_contained",
        "max_containment",
    )


@query(
    "dedup_minhash_oph",
    oracle=_oph_replay_sql(threshold=0.5),
    tags=("dedup", "approx", "lsh", "oph"),
)
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs on ONE-PERMUTATION-HASHING signatures
    (operators/dedup.oph_signatures): one md5-60 hash per shingle split
    across 64 slots with rotation densification, then the identical
    band join + exact-Jaccard verify as dedup_minhash_lsh — the
    hash-work-per-shingle goes from 64 evaluations to 1, the scale
    answer when signature computation (not the band join) dominates.
    Emits identical pairs to the classic path on the fixtures
    (tests/test_dedup_ops.py plants near-dups and checks both).

    Full value-hash oracle: the DuckDB replay recomputes slot minima
    (NULL-sentinel empties), rotation densification (a 64-way COALESCE
    over the clockwise rotation), banding, and the exact-Jaccard
    verify from the same hash family (functions/hashfamily.py)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        oph_minhash_lsh_dedup,
    )

    d = load_table(spark, sf_dir, "documents")
    return oph_minhash_lsh_dedup(
        d, "doc_id", "text", num_buckets=64, bands=16, shingle_k=3, threshold=0.5
    )


@query(
    "dedup_entity_resolution_blocked",
    oracle="""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             string_split(p_name, ' ')[-1] AS block
      FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
    tags=("dedup", "entity-resolution", "fuzzy", "blocking"),
)
def dedup_entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocking + edit distance: candidate part-name
    pairs share a blocking key (the head noun — last token), and a pair
    matches when Levenshtein distance <= 3.  The classic record-linkage
    shape: blocking turns the O(n^2) all-pairs comparison into an
    equi-join (same move as every LSH dedup here — MinHash bands, SimHash
    bands, IVF cells are all learned/hashed blocking keys), and the
    expensive pairwise metric runs only inside blocks.

    ``levenshtein`` is a built-in JVM expression in Spark and an exact
    integer in both engines, so the query is fully oracle-checkable —
    unlike the hash-family dedups.  At 100 TB the block histogram is the
    thing to watch (a mega-block re-creates the quadratic blowup);
    production blocks on multiple keys (phonetic + prefix) and caps
    block sizes, same salting discipline as join_salted_skew.
    """
    p = load_table(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).distinct()
    b = names.select(F.col("name").alias("name_b"), F.col("block"))
    return (
        names.withColumnRenamed("name", "name_a")
        .join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
    )


@query(
    "dedup_minhash_incremental",
    oracle=_minhash_replay_sql(
        threshold=0.5,
        pair_filter="AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)",
    ),
    tags=("dedup", "approx", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time fuzzy dedup: the docs with ``doc_id % 10 == 0``
    play the daily increment, the rest the LSH-indexed corpus; emits
    near-dup pairs involving at least one increment doc
    (operators/dedup.minhash_lsh_dedup_incremental).  The fuzzy twin of
    ref_antijoin_incremental: per-increment cost scales with the
    increment, never with corpus history — the corpus is touched only
    through its (precomputable) band index and the candidate-filtered
    verify.

    Full value-hash oracle: the increment's candidate set is BY
    CONSTRUCTION the batch candidate set restricted to pairs touching
    the increment (same signatures, same band keys), so the oracle is
    the batch replay with that restriction pushed into the candidate
    join — hash equality proves the incremental index emits exactly
    the batch pairs for its increment (the set-algebra argument
    dedup_incremental_equivalence states, now value-checked)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_dedup_incremental(
        new, corpus, "doc_id", "text", threshold=0.5
    )


@query(
    "dedup_oph_accuracy",
    oracle=f"""
    WITH {_exact_jaccard_ctes(0.05, "doc_id < 200")}
    SELECT id_a, id_b, jaccard, TRUE AS oph_ok FROM jac
    """,
    tags=("dedup", "approx", "accuracy", "oph"),
)
def dedup_oph_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKABLE face of the OPH MinHash family (VERDICT r4 item 2a
    — the bounded-check pattern of dedup_minhash_accuracy applied to
    One-Permutation-Hashing signatures): for every exact-Jaccard pair on
    the bounded slice, the 64-bucket OPH estimate (matching-slot
    fraction after rotation densification) must land within 0.25 of the
    exact value.  Measured max deviation on the fixtures is 0.027
    (sf0.01; the slice has 28/3 pairs at sf0.001/sf0.01 and none at
    sf0.1 — the bound is validated wherever pairs exist), so the
    boolean is stable TRUE unless the OPH pipeline itself breaks: a
    wrong pmod split, a broken densification rotation, or a truncated
    signature all flip it.  Signatures are deterministic (one xxhash64
    per shingle, order-independent slot minima), so the output is exact
    despite the estimator being approximate; the raw OPH LSH pair
    surface keeps its rows-only twin (dedup_minhash_oph)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        oph_signatures,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    exact = ngram_jaccard_pairs(d, "doc_id", "text", shingle_k=3, threshold=0.05)
    sigs = oph_signatures(d, "doc_id", "text", num_buckets=64, shingle_k=3)
    est = (
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
            " 0, (acc, v) -> acc + v)"
        )
        / F.lit(64.0)
    )
    return (
        exact.join(sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= 0.25).alias("oph_ok"),
        )
    )


@query(
    "dedup_incremental_equivalence",
    oracle=f"""
    WITH {_exact_jaccard_ctes(0.5)}
    SELECT id_a, id_b, jaccard, TRUE AS in_both FROM jac
    WHERE id_a % 10 = 0 OR id_b % 10 = 0
    """,
    tags=("dedup", "lsh", "incremental", "equivalence"),
)
def dedup_incremental_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-vs-batch equivalence oracle for the LSH index
    (VERDICT r4 item 2d): ``minhash_lsh_dedup_incremental`` over
    (corpus, increment) must emit EXACTLY the batch pipeline's pairs
    restricted to increment-touching ones.  The equivalence is
    deterministic set algebra, not probabilistic — both paths band the
    SAME xxhash64 signatures, so the incremental candidate set is the
    batch candidate set intersected with {pairs touching the increment}
    by construction, and both verify with the same exact Jaccard.

    Output: the full-outer union of the two pair sets with their exact
    Jaccard and ``in_both``; a correct incremental index makes every
    row TRUE.  The ORACLE side is the exact n-gram-Jaccard pairs >= 0.5
    touching the increment — hash-equality additionally attests that
    the banded candidate generator misses nothing on the fixtures
    (measured: LSH output == exact pair set at sf0.001/0.01/0.1; all
    fixture near-dup pairs sit at Jaccard >= 0.8 where the 16x4-band
    miss probability is <= 2e-4 per pair — a new fixture scale with
    pairs near 0.5 would need this bound re-validated, see
    tests/test_oracle_bounds.py)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = (
        minhash_lsh_dedup(d, "doc_id", "text", threshold=0.5)
        .filter((F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0))
        .select("id_a", "id_b", F.col("jaccard").alias("j_batch"))
    )
    inc = minhash_lsh_dedup_incremental(
        new, corpus, "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b", F.col("jaccard").alias("j_inc"))
    return batch.join(inc, ["id_a", "id_b"], "full_outer").select(
        "id_a",
        "id_b",
        F.coalesce("j_batch", "j_inc").alias("jaccard"),
        (F.col("j_batch").isNotNull() & F.col("j_inc").isNotNull()).alias("in_both"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span detection — the Spark-first
# re-expression of suffix-array substring dedup (Lee et al. 2022).
# Staged in r6 under the registry freeze, registered r7.  No
# _ALLOWED_THETA entry needed: every join is an equi-join (gram hash,
# pair ids) and the island window is partitioned by (id_a, id_b, diag).
# ---------------------------------------------------------------------------

def span_cte_sql(gram_k: int = 8, min_tokens: int = 10, max_df: int = 64) -> str:
    """CTE chain replaying :func:`operators.dedup.duplicated_spans` —
    tokenize, md5-60 positional gram hashes (the SAME SPAN_C constants
    the Spark operator uses), df gate, cross-doc gram equi-join,
    gaps-and-islands span merge, exact token-slice verify — ending at
    ``vsp(id_a, id_b, a_start, b_start, span_tokens)`` (verified spans)
    with ``t(doc_id, toks)`` still in scope.  Shared by the span-dedup
    oracle below and the pipeline_span_dedup_rewrite capstone oracle
    (queries/llm_curation.py), which continues the chain with the
    span-drop rewrite and the bigram-LM quality gate."""
    from end_to_end_data_engineering_project_with_databricks_spark.functions.hashfamily import (
        SPAN_C,
    )

    combine = " + ".join(
        f"({SPAN_C[j]} * ({h60_duck(f'toks[i+{j}]')} % {MERSENNE_P})) % {MERSENNE_P}"
        for j in range(gram_k)
    )
    return f"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    el AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {gram_k}),
    pos AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {gram_k - 1})) AS i
      FROM el
    ),
    g AS (SELECT doc_id, i AS pos, ({combine}) % {MERSENNE_P} AS gh FROM pos),
    elig AS (
      SELECT gh FROM g GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {max_df}
    ),
    h AS (SELECT g.doc_id, g.pos, g.gh FROM g JOIN elig USING (gh)),
    m AS (
      SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b, b.pos AS pos_b
      FROM h a JOIN h b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS isl
      FROM m
    ),
    sp AS (
      SELECT id_a, id_b, MIN(pos_a) AS a_start,
             MIN(pos_a) - diag AS b_start,
             COUNT(*) + {gram_k - 1} AS span_tokens
      FROM isl GROUP BY id_a, id_b, diag, isl
      HAVING COUNT(*) + {gram_k - 1} >= {min_tokens}
    ),
    vsp AS (
      SELECT s.id_a, s.id_b, s.a_start, s.b_start, s.span_tokens
      FROM sp s
      JOIN t ta ON ta.doc_id = s.id_a
      JOIN t tb ON tb.doc_id = s.id_b
      WHERE ta.toks[s.a_start : s.a_start + s.span_tokens - 1]
          = tb.toks[s.b_start : s.b_start + s.span_tokens - 1]
    )"""


def _span_oracle_sql(gram_k: int = 8, min_tokens: int = 10, max_df: int = 64) -> str:
    """FULL pipeline replay for :func:`dedup_span_ngram` (the shared
    :func:`span_cte_sql` chain plus the output projection)."""
    return f"""
    WITH {span_cte_sql(gram_k, min_tokens, max_df)}
    SELECT id_a, id_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(span_tokens AS BIGINT) AS span_tokens
    FROM vsp
"""


#: FULL replay oracle for the staged span-dedup query (r7).
DEDUP_SPAN_NGRAM_ORACLE = _span_oracle_sql()


@query(
    "dedup_span_ngram",
    oracle=DEDUP_SPAN_NGRAM_ORACLE,
    tags=("dedup", "window", "join"),
)
def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection: maximal cross-document
    duplicated token spans >= 10 tokens, found by a positional 8-gram
    hash equi-join + per-diagonal gaps-and-islands merge + exact
    token-slice verify — suffix-array dedup semantics without the
    suffix array (see operators/dedup.duplicated_spans for the 100 TB
    shape: df-gated gram join, partitioned island window)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        duplicated_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    return duplicated_spans(d, "doc_id", "text", gram_k=8, min_tokens=10, max_df=64)


# ---------------------------------------------------------------------------
# Exact threshold-Jaccard set-similarity self-join via prefix filtering
# (Bayardo et al. WWW'07 / PPJoin, Xiao et al. WWW'08) — the EXACT scale
# path the LSH ladder approximates.  Staged in r6 under the registry
# freeze, registered r7.  No _ALLOWED_THETA entry needed: candidate
# generation is a shingle equi-join, verify is two id equi-joins, the
# rank window is partitioned by doc_id.
# ---------------------------------------------------------------------------

#: FULL-ANSWER oracle for the staged prefix-filter query: the naive
#: exact all-pairs inverted-index join at the same threshold.  The
#: prefix filter only prunes CANDIDATES, so Spark's answer must equal
#: the unfiltered answer value-for-value — the oracle does not (and
#: must not) replay the prefix; any under-generation shows up as a
#: missing row here.
DEDUP_JACCARD_PREFIX_ORACLE = f"""
    WITH {_exact_jaccard_ctes(0.5)}
    SELECT id_a, id_b, jaccard FROM jac
"""

@query(
    "dedup_jaccard_prefix",
    oracle=DEDUP_JACCARD_PREFIX_ORACLE,
    tags=("dedup", "join"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 near-dup pairs over the FULL documents table
    via prefix filtering: rarest-first global shingle order,
    per-document prefix of length n - ceil(t*n) + 1, candidate equi-join
    on prefix shingles only, exact array_intersect verify.  Same answer
    as the naive inverted-index join — candidates shrink, the result
    does not (operators/dedup.jaccard_prefix_filter_pairs for the
    100 TB shape: hub shingles fall outside every prefix)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_filter_pairs(d, "doc_id", "text", threshold=0.5, k=3)


# ---------------------------------------------------------------------------
# Corpus-LEVEL overlap profiling: source-to-source shingle Jaccard
# estimated from a bucketed-min (one-permutation-hashing) sketch — the
# corpus-mixing diagnostic ("how much does crawl B re-crawl A?") that
# runs BEFORE any pairwise doc dedup is priced.  One narrow shingle
# explode + one (source, bucket) hash-agg reduce the whole corpus to
# n_sources x 64 integers; every downstream comparison is on the sketch.
# ---------------------------------------------------------------------------

PROFILE_SOURCE_OVERLAP_ORACLE = f"""
    WITH docs AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    pos AS (
      SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM docs WHERE len(toks) >= 3
    ),
    hs AS (
      SELECT source,
             {h60_duck("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
      FROM pos
    ),
    mins AS (
      SELECT source, h % 64 AS bucket, MIN(h) AS mh
      FROM hs GROUP BY source, h % 64
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
             AS matching_buckets,
           CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) / 64.0
             AS est_jaccard
    FROM mins a JOIN mins b ON a.bucket = b.bucket AND a.source < b.source
    GROUP BY a.source, b.source
"""


@query(
    "profile_source_overlap",
    oracle=PROFILE_SOURCE_OVERLAP_ORACLE,
    tags=("profile", "dedup", "sketch", "agg"),
)
def profile_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source content overlap, sketched: every source's
    shingle stream reduces to 64 bucketed minima of the md5-60 hash (the
    stochastic-averaging form of one-permutation MinHash — Li et al.,
    "One Permutation Hashing"), and each source pair's Jaccard is
    estimated by the fraction of buckets whose minima AGREE.  The
    corpus-mixing diagnostic that prices cross-source dedup before
    running it: estimates near 0 mean disjoint crawls, near 1 a
    re-crawl.

    100 TB shape: the shingle explode is narrow (no distinct needed —
    MIN is duplicate-blind); the ONLY corpus-wide shuffle is the
    (source, bucket) hash-agg, map-side combined down to
    n_sources x 64 rows; the pair comparison is an equi-join on bucket
    over that tiny sketch table.  Estimator bias from sparse buckets is
    the documented OPH trade; at corpus granularity every bucket is
    dense.  Fully replayed by the DuckDB oracle (same hash family, same
    bucketing)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _h60,
    )

    d = load_table(spark, sf_dir, "documents")
    hs = d.select(
        "source", F.explode(shingles("text", 3)).alias("_sh")
    ).select("source", _h60(F.col("_sh")).alias("h"))
    mins = hs.groupBy("source", F.pmod("h", F.lit(64)).alias("bucket")).agg(
        F.min("h").alias("mh")
    )
    a = mins.select(
        F.col("source").alias("source_a"), "bucket", F.col("mh").alias("ma")
    )
    b = mins.select(
        F.col("source").alias("source_b"), "bucket", F.col("mh").alias("mb")
    )
    matches = F.sum(
        F.when(F.col("ma") == F.col("mb"), F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        a.join(b, "bucket")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(matches.alias("matching_buckets"))
        .select(
            "source_a",
            "source_b",
            "matching_buckets",
            (F.col("matching_buckets") / F.lit(64.0)).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall audit (round 7) — quantify exactly what the MinHash banding
# misses, against the exact PPJoin truth set.  Both pipelines share the
# SAME distinct-3-gram shingle sets (operators/dedup.shingles), so the
# exact threshold-Jaccard answer IS the verify stage's ground truth and
# "verified pairs" == "candidates ∩ truth" by construction — the audit
# needs no second verify pass.
# ---------------------------------------------------------------------------


def _lsh_recall_audit_oracle(threshold: float = 0.5) -> str:
    return f"""
    WITH {_exact_jaccard_ctes(threshold)},{_MINHASH_BANDS_CTES},
    {_cand_cte()},
    m AS (
      SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand
      FROM jac t
      FULL JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
    ),
    agg AS (
      SELECT SUM(in_truth) AS n_truth,
             SUM(in_cand) AS n_cand,
             SUM(in_truth * in_cand) AS tp
      FROM m
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(tp AS BIGINT) AS n_verified,
           CAST(n_truth - tp AS BIGINT) AS n_missed,
           CAST((1000000 * tp) // GREATEST(n_truth, 1) AS BIGINT) AS recall_fp,
           CAST((1000000 * tp) // GREATEST(n_cand, 1) AS BIGINT)
             AS cand_precision_fp
    FROM agg
    """


@query(
    "dedup_lsh_recall_audit",
    oracle=_lsh_recall_audit_oracle(),
    tags=("dedup", "approx", "audit"),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LSH quality audit: pair-level recall and candidate
    precision of the 16x4 MinHash banding at J >= 0.5, measured against
    the EXACT threshold-Jaccard truth set (the PPJoin path — same
    distinct-3-gram shingle sets, so truth is exactly what the verify
    stage would keep).  The S-curve predicts ~64% candidate probability
    AT the 0.5 threshold rising steeply above it; this query turns that
    analytic claim into a measured, hash-checked number — the audit a
    production dedup pipeline runs before trusting its banding
    parameters at 100 TB.  (Measured on the fixtures: 25/25 pairs at
    sf0.01 and 256/256 at sf0.1 — recall and precision both 1.0, as the
    S-curve predicts for a near-total-duplicate profile whose true
    pairs all sit far above the threshold; the harness exists for the
    corpora where they don't.)

    Because both pipelines share one shingle definition, verified pairs
    == candidates ∩ truth, so the audit never re-verifies: it
    full-outer-joins the exact answer with the banding's candidate set
    on the pair key and counts.  Fixed-point recall/precision are
    integer divisions — bit-exact.

    100 TB shape: the truth side is the audited PPJoin plan (prefix
    equi-join, hub shingles excluded), the candidate side is the
    audited banding plan (band-hash equi-join), and the comparison is
    one SMJ on pair ids + a 1-row aggregate.  The audit costs the two
    pipelines it audits, nothing quadratic."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    truth = jaccard_prefix_filter_pairs(
        d, "doc_id", "text", threshold=0.5, k=3
    ).select("id_a", "id_b", F.lit(1).alias("in_truth"))
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=64, shingle_k=3)
    cand = lsh_candidate_pairs(sigs, "doc_id", bands=16, rows_per_band=4).select(
        "id_a", "id_b", F.lit(1).alias("in_cand")
    )
    m = truth.join(cand, ["id_a", "id_b"], "full").select(
        F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
        F.coalesce("in_cand", F.lit(0)).alias("in_cand"),
    )
    return (
        m.agg(
            F.sum("in_truth").alias("n_truth"),
            F.sum("in_cand").alias("n_cand"),
            F.sum(F.expr("in_truth * in_cand")).alias("tp"),
        )
        .select(
            F.col("n_truth"),
            F.col("n_cand").alias("n_candidates"),
            F.col("tp").alias("n_verified"),
            (F.col("n_truth") - F.col("tp")).alias("n_missed"),
            F.expr("(1000000 * tp) div GREATEST(n_truth, 1)").alias("recall_fp"),
            F.expr("(1000000 * tp) div GREATEST(n_cand, 1)").alias(
                "cand_precision_fp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# pyspark.ml MinHashLSH interop twin (round 10, VERDICT r9 item 5) — the
# stock ML path (HashingTF -> MinHashLSH -> approxSimilarityJoin) audited
# against the exact PPJoin truth set, proving the engine interoperates
# with Spark's built-in LSH, not just its own md5-60 hash family.
# ---------------------------------------------------------------------------

_ML_TRUTH_ORACLE = f"""
    WITH {_exact_jaccard_ctes(0.5)}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok, TRUE AS subset_ok, TRUE AS nonempty_ok
    FROM jac
    """


@query(
    "dedup_minhash_ml",
    oracle=_ML_TRUTH_ORACLE,
    tags=("dedup", "approx", "ml", "audit"),
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair search through the STOCK pyspark.ml LSH path —
    ``HashingTF`` (murmur3 feature hashing, binary) over the same
    distinct-3-gram shingle sets as the hand-rolled ladder, then
    ``MinHashLSH.approxSimilarityJoin`` at Jaccard distance <= 0.5 —
    audited against the exact PPJoin truth set
    (operators/dedup.jaccard_prefix_filter_pairs, threshold 0.5).
    SURVEY §2.3 names this the standard Spark dedup recipe; the ladder
    deliberately hand-rolls its hash family for DuckDB oracle-ability,
    and this query proves both paths agree on the answer.

    BOUNDED-CHECK oracle, not a value replay: DuckDB cannot replay
    murmur3 HashingTF or the ML MinHash coefficients, and the interop
    point is precisely that the hash family is NOT ours.  The row emits
    the exact truth-pair count (fully replayed) plus three booleans —
    recall >= 0.9 of truth (fixed seed, 8 OR-ed hash tables: P(candidate)
    = 1-(1-J)^8 >= 0.996 at J=0.5, ~1.0 on the fixtures' near-dup
    profile), every emitted pair exact-Jaccard >= 0.47 (subset property;
    the 0.03 margin absorbs HashingTF feature collisions, which perturb
    the hashed-set Jaccard approxSimilarityJoin filters on away from the
    true shingle Jaccard), and non-emptiness (guards a vacuous subset).
    Determinism: HashingTF's murmur3 seed and MinHashLSH(seed=42) are
    fixed, so the emitted pair set — hence every boolean — is identical
    run to run (verified; cf. the randomized-KLL contrast in
    agg_quantile_sketch).

    100 TB shape: approxSimilarityJoin explodes each document to its 8
    (table, minhash) keys and self-equi-joins — the same banded-join
    physique as the hand-rolled path (exponent 1.000 in docs/SCALE.md),
    with the exact-distance filter running on candidates only.  The
    audit adds the truth pipeline (audited PPJoin plan) and two
    pair-key joins + a 1-row aggregate, nothing quadratic."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        jaccard_verify,
    )

    from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    # filter on a fresh cheap token count BEFORE the gram projection:
    # a predicate on the aliased computed array would be pushed below
    # the projection and re-evaluate the whole shingle chain per row
    # (the computed-array-filter trap); >= 3 tokens <=> >= 1 gram, so
    # the kept doc set is identical.
    sh = d.filter(F.size(tokens("text")) >= 3).select(
        F.col("doc_id"), shingles("text", 3).alias("sh")
    )
    # materialized once: fit + BOTH approxSimilarityJoin sides reference
    # this subtree, and without a checkpoint the tokenize+shingle+
    # murmur3-HashingTF pipeline re-plans per reference (the
    # lsh_candidate_pairs lesson; measured below in the module tests)
    feat = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 20, binary=True
    ).transform(sh).localCheckpoint(eager=True)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feat)
    emitted = (
        model.approxSimilarityJoin(feat, feat, 0.5, distCol="jd")
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .localCheckpoint(eager=True)  # referenced by 2 joins below
    )
    truth = jaccard_prefix_filter_pairs(d, "doc_id", "text", threshold=0.5, k=3)
    ver = jaccard_verify(emitted, d, "doc_id", "text", 3, threshold=0.47).select(
        "id_a", "id_b", F.lit(1).alias("in_ver")
    )
    m = (
        truth.select("id_a", "id_b", F.lit(1).alias("in_truth"))
        .join(emitted.withColumn("in_em", F.lit(1)), ["id_a", "id_b"], "full")
        .join(ver, ["id_a", "id_b"], "left")
        .select(
            F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
            F.coalesce("in_em", F.lit(0)).alias("in_em"),
            F.coalesce("in_ver", F.lit(0)).alias("in_ver"),
        )
    )
    return (
        m.agg(
            F.sum("in_truth").alias("n_truth"),
            F.sum("in_em").alias("n_em"),
            F.sum(F.expr("in_truth * in_em")).alias("tp"),
            F.sum(F.expr("in_em * in_ver")).alias("n_ver"),
        )
        .select(
            F.col("n_truth").cast("bigint").alias("n_truth"),
            (F.expr("10 * tp") >= F.expr("9 * n_truth")).alias("recall_ok"),
            (F.col("n_ver") == F.col("n_em")).alias("subset_ok"),
            (F.col("n_em") >= 1).alias("nonempty_ok"),
        )
    )
