"""Deduplication operators for large-scale text corpora.

The reference's only dedup is the cross-batch anti-join on a key
(ETL_pipeline_countries.py:137).  A training-data pipeline needs the full
ladder (BASELINE.json north star):

- exact: hash-groupBy on content (or a stable fingerprint of it);
- near-dup: MinHash signatures + LSH banding (candidate generation in
  O(n·bands) instead of O(n²)) with exact Jaccard verification;
- SimHash: 64-bit rotation-tolerant fingerprint + banded Hamming join;
- exact n-gram overlap: :func:`ngram_jaccard_pairs` and
  :func:`ngram_containment_pairs`, two emitters on one shingle
  inverted-index equi-join (the baseline the approximate paths are
  measured against; quadratic on corpus-frequent grams, so callers run
  it on bounded subsets).

Everything is JVM-side (split/explode/md5-int/groupBy) — no Python UDFs.
The hash family is the engine-portable md5-derived 60-bit integer of
functions/hashfamily.py, so every signature, band key, and fingerprint is
bit-reproducible in DuckDB and the pair queries carry full value oracles.
Scale design: each operator's candidate-generation step is a single
equi-join on a computed key (band hash), so Catalyst shuffles both sides
on that key — no cross join ever materializes.  At 100 TB the shingle
explode dominates; it is a narrow map (no shuffle) and the first groupBy
(signature agg) is the only wide op per document.

One path per step: every banded pipeline builds its band relation with
:func:`lsh_band_buckets`, its materialized candidate pairs with
:func:`_banded_candidates`, and any verify filters the corpus to pair
endpoints with :func:`_candidate_docs` (inside :func:`jaccard_verify`).
Clustering (:func:`connected_components`) solves graphs whose quotient
fits :data:`CC_DRIVER_BOUND` edges on the driver with no Spark round.

Materialization caveat (ADVICE r6): operators whose signature/prefix
relation feeds BOTH sides of a self-join materialize it with
``localCheckpoint(eager=True)``.  That is a deliberate trade: without the
barrier the whole upstream pipeline re-executes once per join side
(measured 2x on the LSH path).  The costs to know about on a real
cluster: (a) the checkpoint runs a Spark job at DataFrame-CONSTRUCTION
time, so merely building the plan executes the signature pipeline; and
(b) ``localCheckpoint`` truncates lineage WITHOUT replication, so losing
an executor mid-query makes the cached blocks unrecoverable and fails
the query (rerun from source).  On a long-running 1000-executor job
prefer ``df.persist(StorageLevel.MEMORY_AND_DISK)`` + a reliable
``checkpoint()`` to a replicated store, or simply re-submit on the rare
executor loss — the eager-local form here optimizes for the
single-process test/bench envelope where neither failure mode exists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from end_to_end_data_engineering_project_with_databricks_spark.functions.hashfamily import (
    MERSENNE_P,
    SHINGLE_C,
    h60_spark,
    minhash_perm_spark,
)
from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import (
    fingerprint,
    tokens,
)
from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
    scale_out,
)


def _h60(c: Column) -> Column:
    """md5-derived 60-bit non-negative base hash (functions/hashfamily.py)
    — bit-identical to DuckDB's ``CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)``, which is what makes every signature below oracle-replayable."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct word-level k-gram shingles of a text column.

    ``sequence(1, n-k+1)`` positions -> ``array_join(slice(toks, i, k))``
    per position.  Pure JVM higher-order functions; no explode needed
    until the caller wants rows.  ``array_join(slice(...), ' ')`` emits
    the identical string as the earlier ``concat_ws`` of k
    ``element_at`` calls (tokens are space-free by construction, both
    skip nothing — ``slice`` always sees k in-bounds elements under the
    ``pos`` guard) while evaluating 2 interpreted expression nodes per
    gram instead of k+1: measured 2.9 s -> 1.2 s for the corpus-wide
    distinct-count pass at sf0.1 (r13 optimization round; per-doc
    distinct counts verified equal on all fixtures).

    Documents shorter than ``k`` tokens yield an EMPTY array (matching
    DuckDB's empty ``generate_series``): the naive ``sequence(1, n-k+1)``
    would be ``sequence(1, 0)`` = ``[1, 0]`` (Spark sequences step
    DOWNWARD when stop < start), and a gram built from position 0 would
    throw — a whole-job crash on one short row (ADVICE r6)."""
    toks = tokens(text_col)
    n = F.size(toks)
    pos = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(pos, lambda i: F.array_join(F.slice(toks, i, k), " "))
    return F.array_distinct(grams)


def _hashed_shingle_docs(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, _sh) where ``_sh`` is the distinct array of k-gram shingle
    HASHES in [0, P): each token is md5-60-hashed ONCE (the only
    variable-length hash — md5 cost scales with input bytes, so hashing
    tokens instead of 3-word gram strings cuts the hash work ~3x and
    skips the per-gram concat allocation), then the k positional
    token-hashes combine with the pure-integer polynomial of
    functions/hashfamily.SHINGLE_C — which a DuckDB oracle replays
    literally.

    Two projections on purpose: ``_th`` (the token-hash array) is
    referenced ``shingle_k`` times by the gram combine; the projection
    barrier stops CollapseProject from inlining — and recomputing — the
    tokenize+md5 per position (the same 12x-regression mechanism
    documented on the signature fold below).  Documents with fewer than
    ``shingle_k`` tokens are dropped (no shingles -> can't be a
    near-dup of anything)."""
    # Filter BEFORE the hash projection, on a fresh (cheap) split: a
    # filter on the aliased ``_th`` would make the predicate re-evaluate
    # the whole md5 transform per row (measured 2x the stage cost).
    tokh = (
        scale_out(df)
        .filter(F.size(tokens(text_col)) >= shingle_k)
        .select(
            F.col(id_col).alias("_id_"),
            F.transform(
                tokens(text_col), lambda t: F.pmod(_h60(t), F.lit(MERSENNE_P))
            ).alias("_th"),
        )
    )
    combine = " + ".join(
        f"pmod({SHINGLE_C[j]} * element_at(_th, i + {j}), {MERSENNE_P})"
        for j in range(shingle_k)
    )
    gram_sql = (
        f"array_distinct(transform(sequence(1, size(_th) - {shingle_k - 1}), "
        f"i -> pmod({combine}, {MERSENNE_P})))"
    )
    return tokh.select("_id_", F.expr(gram_sql).alias("_sh"))


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the minimum id
    as canonical and counting members.  A single hash aggregate —
    map-side partial on content hash, so the shuffle carries one row per
    distinct value per partition."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_members")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document: ``sig[i] = min over shingles of
    h_i(shingle)``, where ``h_i(s) = (A[i] * sh(s) + B[i]) % P`` — the
    classic 2-universal affine family over the Mersenne prime
    P = 2^31 - 1 — and ``sh(s)`` is the positional integer combine of
    md5-60 token hashes (:func:`_hashed_shingle_docs`,
    functions/hashfamily.py).  Unlike the previous xxhash64 seed family
    this is bit-reproducible in DuckDB, so the LSH pair queries carry
    full value-hash oracles instead of the rows-only gate (VERDICT r5
    item 4).

    Fully narrow — no explode, no shuffle: each TOKEN is md5-hashed
    ONCE (the only variable-length hash) into a pre-materialized mod-P
    hash array, shingle hashes are integer combines of it, and each of
    the ``num_hashes`` families is an independent
    ``array_min(transform(hashes, h -> (A[i]*h + B[i]) % P))`` — an
    integer multiply-add is cheaper per family than any re-hash.  At
    100 TB this stage pipelines with the corpus scan and the first (and
    only) shuffle of the dedup pipeline is the LSH band join.

    Memory shape: the earlier formulation folded with an
    array-accumulator (``zip_with`` + a num_hashes-element array literal
    PER SHINGLE), allocating two 64-wide arrays per shingle per row in
    the interpreted higher-order-function path — the same pattern whose
    SimHash twin OOM-killed executors on a default 1 GiB heap.  Per-family
    scalar reductions allocate one |shingles|-long array per family,
    transient per expression, so memory stays bounded regardless of
    session sizing.  The shingle-hash array lives in its own projection
    (``_sh``): it is referenced num_hashes times, and the projection
    barrier stops CollapseProject from inlining — and recomputing — the
    tokenize+shingle+hash per family (measured 3x slower when inlined).
    Signatures are bit-identical to the fold formulation (same per-family
    ``xxhash64(i, shingle_hash)`` values, same min).
    Returns (id, sig: array<bigint>); documents with no shingles are
    dropped (they can't be near-dups of anything).
    """
    # millions of hash evals from a few MB of text: _hashed_shingle_docs
    # widens inputs whose byte estimate is below one split per core
    # (scale_out), so the stage runs on every core even when a small
    # one-row-group file puts all rows in one split (no-op at scale)
    hashed = _hashed_shingle_docs(df, id_col, text_col, shingle_k)

    # One SQL string instead of num_hashes unrolled py4j Columns: the
    # py4j form (64 x array_min(transform(...)) + F.array) cost ~2 s of
    # pure driver latency PER QUERY CONSTRUCTION in round trips; this
    # parses JVM-side in ~5 ms and evaluates bit-identically (A/B
    # verified).  The family coefficients stay LITERALS inside each
    # element — NOT a `transform(sequence(0, n), i -> ...)` lambda
    # variable — because single-referencing `_sh` from inside a lambda
    # lets CollapseProject inline the tokenize+shingle+hash expression
    # into the loop body, recomputing it per family (measured 12x
    # slower: 14 s vs 1.2 s at sf0.1).  With 64 textual references the
    # optimizer keeps `_sh` materialized in its own projection, so each
    # shingle is hashed exactly once.
    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(_sh, h -> {minhash_perm_spark(i, 'h')}))"
            for i in range(num_hashes)
        )
        + ")"
    )
    return hashed.select(F.col("_id_").alias(id_col), sig.alias("sig"))


def _band_structs_sql(bands: int, rows_per_band: int) -> str:
    """Spark SQL for the per-document (band, band_hash) struct array:
    ``bh = h60(concat_ws(':', band slice of sig))`` — the md5-60 of the
    decimal-rendered signature slice, an 8-byte join key that DuckDB
    reproduces exactly (non-negative BIGINTs render identically in both
    engines)."""
    terms = []
    for b in range(bands):
        concat = "concat_ws(':', " + ", ".join(
            f"CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band)
        ) + ")"
        terms.append(f"named_struct('band', {b}, 'bh', {h60_spark(concat)})")
    return "array(" + ",".join(terms) + ")"


def lsh_band_buckets(
    signatures: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """The LSH band-bucket relation: one ``(_id, band, bh)`` row per band
    per document, returned LAZY.  It is the relation the pair join of
    :func:`lsh_candidate_pairs` shuffles, the per-scheme relation of the
    ensemble's fused join, the scale-growth audit's occupancy input
    (operators/scale_audit.py, docs/SCALE.md), and the index a
    recurring-ingest pipeline persists once per corpus snapshot
    (partitioned/bucketed by (band, bh) at scale) so that every later
    increment joins against it instead of re-signing the corpus
    (:func:`minhash_lsh_dedup_incremental`).

    Callers that reference it from both sides of a self-join materialize
    it themselves: without a materialization point Spark re-plans (and
    re-computes) the entire signature pipeline once per side — measured
    1.6 s vs 1.4 s warm and 10 s vs 2.8 s cold at sf0.1.  The ensemble
    instead unions several schemes over an ALREADY-checkpointed signature
    relation and materializes the fused union once — per-scheme
    deserialized checkpoint blocks are heap the stock 1 GiB envelope
    cannot spare, and the recompute they avoid is only the band
    projection over sigs."""
    # fully-literal unrolled SQL (see minhash_signatures: literal indices
    # keep `sig` multi-referenced so its projection is not inlined)
    band_structs = F.expr(_band_structs_sql(bands, rows_per_band))
    return signatures.select(
        F.col(id_col).alias("_id"), F.explode(band_structs).alias("b")
    ).select("_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: hash each band of the signature; documents sharing any
    band hash become a candidate pair.

    The pair join is an equi-join on (band_index, band_hash) — shuffled
    on the band key, never a cross join.  Skew guard: a degenerate band
    (e.g. the empty-document signature) would create a quadratic bucket;
    the join key includes the band index so AQE's skew-join split can
    kick in at scale.  Each document emits exactly one (band, hash) per
    band index, so bucket rows are distinct by construction — no dedup
    shuffle before the join.
    Returns distinct (id_a, id_b) with id_a < id_b.  The bucket relation
    is materialized once (both join sides reference it); checkpoint
    blocks are released by the context cleaner when the DataFrame is
    unreferenced.
    """
    buckets = lsh_band_buckets(signatures, id_col, bands, rows_per_band).localCheckpoint(
        eager=True
    )
    left = buckets.select(F.col("_id").alias("id_a"), "band", "bh")
    right = buckets.select(F.col("_id").alias("id_b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard on shingle sets for candidate pairs; keeps pairs with
    similarity >= threshold.  ``df`` is semi-filtered to the pairs'
    endpoints (:func:`_candidate_docs`) and only those documents are
    widened (:func:`scale_out`) and shingled; the (small) candidate set
    then joins them twice — both joins are equi-joins on the id.  Callers
    pass the whole corpus, and ``pairs`` is read twice (pair stream and
    endpoint filter), so pass a materialized relation.

    STRING shingles on purpose: an A/B at sf0.1 (r6) replaced this with
    md5-60 HASHED shingle sets (int intersect instead of string
    intersect) and the full pipeline got SLOWER — 1.52 s vs 1.21 s warm
    steady state — because re-md5-ing every candidate document costs
    more than concat_ws + string intersects on the semi-filtered
    candidate set.  Don't retry without re-measuring."""
    sets_df = scale_out(_candidate_docs(df, pairs, id_col)).select(
        F.col(id_col).alias("_jid"), shingles(text_col, shingle_k).alias("_set")
    )
    a = sets_df.select(F.col("_jid").alias("id_a"), F.col("_set").alias("set_a"))
    b = sets_df.select(F.col("_jid").alias("id_b"), F.col("_set").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_overlap(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id_a, id_b, inter, na, nb) for every unordered document pair
    (id_a < id_b) sharing at least one distinct k-gram shingle:
    ``inter`` = |sh(a) ∩ sh(b)|, ``na``/``nb`` the two set sizes.

    The exact inverted index: explode :func:`shingles` (distinct per
    document, so a repeated gram counts once; a NULL text or a document
    shorter than ``shingle_k`` tokens explodes to nothing), self-equi-join
    on the shingle, count per pair, then two equi-joins for the set
    sizes.  No cross join, but each gram contributes occ*(occ-1)/2 join
    rows, so a corpus-frequent gram is quadratic — the reason its
    queries slice ``doc_id`` and the full-corpus paths band instead."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(text_col, shingle_k)).alias("_sh"),
    )
    counts = sh.groupBy("_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("_id").alias("id_a"), "_sh")
    b = sh.select(F.col("_id").alias("id_b"), "_sh")
    return (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
        .join(counts.withColumnsRenamed({"_id": "id_a", "n": "na"}), "id_a")
        .join(counts.withColumnsRenamed({"_id": "id_b", "n": "nb"}), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact k-gram Jaccard pairs: (id_a, id_b, jaccard) with id_a < id_b
    and ``jaccard = inter / (na + nb - inter) >= threshold`` over
    :func:`_ngram_overlap` — one IEEE division, bit-equal to the DuckDB
    replay.  Pairs sharing no shingle never exist as rows."""
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        _ngram_overlap(df, id_col, text_col, shingle_k)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact directed k-gram containment: (id_small, id_big, containment)
    with ``containment = |sh(small) ∩ sh(big)| / |sh(small)| >=
    threshold``.  Each undirected overlap of :func:`_ngram_overlap` is
    scored both ways (``inter/na`` and ``inter/nb``) — the shape of
    :func:`containment_lsh_pairs` — so a mutual pair yields two rows."""
    ov = _ngram_overlap(df, id_col, text_col, shingle_k)
    directed = ov.select(
        F.col("id_a").alias("id_small"),
        F.col("id_b").alias("id_big"),
        (F.col("inter").cast("double") / F.col("na").cast("double")).alias("containment"),
    ).unionByName(
        ov.select(
            F.col("id_b").alias("id_small"),
            F.col("id_a").alias("id_big"),
            (F.col("inter").cast("double") / F.col("nb").cast("double")).alias(
                "containment"
            ),
        )
    )
    return directed.filter(F.col("containment") >= threshold)


def _candidate_docs(
    df: DataFrame, pairs: DataFrame, id_col: str, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """Semi-filter ``df`` to the documents that are an endpoint of some
    pair, so a verify re-scans and re-shingles only candidate documents.
    At 100 TB candidates are a vanishing fraction of the corpus.  The
    semi-join is left to Catalyst/AQE: a broadcast hint would force the
    endpoint-id set driver-side, which at 100 TB can exceed broadcast
    limits — AQE already broadcasts it when it is actually small."""
    ids = pairs.select(F.col(a).alias("_cid")).union(pairs.select(b)).distinct()
    return df.join(ids, F.col(id_col) == F.col("_cid"), "left_semi")


def _banded_candidates(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """The candidate half of every banded LSH pipeline: the distinct
    band-sharing pairs of ``sigs``, materialized once (the verify
    references them as the pair stream AND through the endpoint filter)."""
    return lsh_candidate_pairs(sigs, id_col, bands, rows_per_band).localCheckpoint(
        eager=True
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded candidate
    pairs -> exact-Jaccard verification.  With 16 bands x 4 rows the
    S-curve crosses ~0.5 at J ≈ (1/16)^(1/4) ≈ 0.5, so J >= 0.7 pairs are
    found with ≈ 99% probability.

    The candidate set is materialized once with ``localCheckpoint`` (the
    deliberate materialization point of the pipeline — it is referenced
    three times; unlike ``persist`` without a matching ``unpersist``,
    checkpoint blocks are released by the context cleaner as soon as the
    DataFrame is unreferenced, so repeated pipeline runs in one session
    don't accumulate cached candidate sets) and the corpus is
    semi-filtered to candidate documents before verification, so the
    expensive shingle recomputation touches only docs that appear in
    some pair, not the whole corpus twice (:func:`jaccard_verify`)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    cands = _banded_candidates(sigs, id_col, bands, num_hashes // bands)
    return jaccard_verify(cands, df, id_col, text_col, shingle_k, threshold)


def containment_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over MinHash-LSH band candidates —
    the scale path :func:`queries.dedup.dedup_containment`'s docstring
    promises: the raw inverted-index shingle join (quadratic on
    corpus-frequent grams, measured in docs/SCALE.md's r9 table) is
    replaced by the banded candidate join, and containment
    ``|sh(A) ∩ sh(B)| / |sh(A)|`` re-verifies on candidates only.

    Emits DIRECTED rows (id_small, id_big, containment >= threshold):
    each unordered band candidate is scored in both directions (one
    intersection computation feeds both), so output semantics match the
    exact operator restricted to the candidate set.

    Honest recall caveat: MinHash-LSH banding recalls by JACCARD, and a
    high-containment pair can have LOW Jaccard when the containing
    document is much larger (|A∩B|/|A∪B| ≈ |A|/|B|) — the 16x4 S-curve
    gives such a pair a small candidate probability, so this path can
    MISS extreme-size-ratio quotes the exact join finds.  The published
    fix is containment-calibrated banding (LSH Ensemble, Zhu et al.
    VLDB'16 — partition by set size, tune bands per partition) or
    asymmetric extensions of minwise hashing; the query-side test
    (tests/test_dedup_ops.py) measures the banded path's recall
    against the exact :func:`ngram_containment_pairs` on the fixtures
    so the trade is a number, not a guess.

    Plan shape: the signature/banding pipeline is minhash_lsh_dedup's
    (candidates localCheckpointed once, corpus semi-filtered to
    candidate docs before the verify scan), and the verify is two
    id-equi-joins against per-document sorted shingle arrays — cost
    O(candidates), never O(n^2)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    cands = _banded_candidates(sigs, id_col, bands, num_hashes // bands)
    sets = (
        scale_out(_candidate_docs(df, cands, id_col))
        .select(
            F.col(id_col).alias("_id_"),
            F.explode(shingles(text_col, shingle_k)).alias("sh"),
        )
        .groupBy("_id_")
        .agg(F.sort_array(F.collect_list("sh")).alias("_set"), F.count("*").alias("n"))
        .localCheckpoint(eager=True)  # referenced by both join sides
    )
    a = sets.select(
        F.col("_id_").alias("id_a"), F.col("_set").alias("_sa"), F.col("n").alias("na")
    )
    b = sets.select(
        F.col("_id_").alias("id_b"), F.col("_set").alias("_sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    scored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", inter.alias("novl"), "na", "nb")
    )
    directed = scored.select(
        F.col("id_a").alias("id_small"),
        F.col("id_b").alias("id_big"),
        (F.col("novl") / F.col("na")).alias("containment"),
    ).unionByName(
        scored.select(
            F.col("id_b").alias("id_small"),
            F.col("id_a").alias("id_big"),
            (F.col("novl") / F.col("nb")).alias("containment"),
        )
    )
    return directed.filter(F.col("containment") >= float(threshold))


#: LSH-Ensemble size strata: (lo, hi, bands, rows_per_band).  Larger
#: indexed sets get MORE bands of FEWER rows: containment of a small
#: query in a big set has low Jaccard (J ~ t*|q| / (|q| + |i| - t*|q|)),
#: and the banding S-curve must still fire there — at t=0.8, |q|=20,
#: |i|=90, J ~ 0.17: P(candidate) is ~1.0 under 64x1 but ~0.01 under
#: 16x4 (exactly the pairs containment_lsh_pairs misses).
ENSEMBLE_STRATA: tuple[tuple[int, int | None, int, int], ...] = (
    (0, 32, 16, 4),
    (32, 64, 32, 2),
    (64, None, 64, 1),
)


def ensemble_schemes(num_hashes: int = 64) -> tuple[tuple[int, int], ...]:
    """The (bands, rows_per_band) ladder the ensemble assigns to its
    three size strata, smallest sets first: (H/4 x 4, H/2 x 2, H x 1).
    Geometric halving of rows-per-band from 4 keeps every scheme inside
    the same ``num_hashes`` signature while moving the S-curve threshold
    (1/b)^(1/r) down a notch per stratum — at H=64 the thresholds read
    ~0.50 / 0.18 / 0.016, the fixture-validated ladder (recall tests in
    tests/test_dedup_ops.py).  The ladder is the FIXED half of the
    strata; the size BOUNDS are corpus-derived (auto_ensemble_strata)."""
    if num_hashes < 4 or num_hashes % 4:
        raise ValueError(f"num_hashes must be a multiple of 4, got {num_hashes}")
    return ((num_hashes // 4, 4), (num_hashes // 2, 2), (num_hashes, 1))


def strata_split_points(counts: DataFrame, n_col: str = "n") -> DataFrame:
    """1-row ``(n_sized, shingle_rows, split_lo, split_hi)``: EQUI-DEPTH
    tertile split points of the per-doc set-size histogram — ``split_lo``
    is the smallest size whose cumulative doc count reaches 1/3 of the
    corpus, ``split_hi`` the smallest reaching 2/3 (NULLs on an empty
    input).  ``shingle_rows`` (the exact total set size, SUM(sz*cnt)
    over the same histogram) rides along so the ensemble's memory-
    envelope pricing shares this ONE planner-statistic job instead of
    running separate count/sum jobs (r13: three 1-row driver reads
    fused into one).

    Equi-depth partitioning over set sizes is the LSH Ensemble paper's
    own partitioning rule (Zhu et al., VLDB'16: equi-depth domain-size
    partitions are near-optimal for the skewed size distributions real
    corpora have — each partition indexes the same mass), and it
    is what makes the strata CORPUS-DERIVED instead of fixture literals
    (VERDICT r12 item 3): each banding scheme indexes ~N/3 of the
    documents regardless of how the size distribution shifts, so no
    stratum's candidate volume can silently dominate.

    Deterministic integer algebra — ``cdf*3 >= n_total`` over exact
    BIGINT counts — so the DuckDB oracles replay the derived bounds
    bit-exactly (same discipline as similarity.auto_n_cells).

    Scale shape: one hash-agg of the counts relation into the size
    HISTOGRAM (one row per distinct size — bounded by the max document
    token count, metadata-sized at any corpus scale), then a single-
    partition running sum over that histogram.  The single-partition
    window is over the bounded histogram, never the corpus — the same
    planner-statistic class as the CMS counter reads."""
    from pyspark.sql.window import Window

    h = counts.groupBy(n_col).agg(F.count("*").alias("_cnt"))
    w = Window.orderBy(n_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        F.col(n_col).alias("_sz"),
        F.col("_cnt"),
        F.sum("_cnt").over(w).alias("_cdf"),
    ).withColumn("_tot", F.max("_cdf").over(Window.partitionBy(F.lit(1))))
    return cum.agg(
        F.max("_tot").cast("long").alias("n_sized"),
        F.sum(F.col("_sz") * F.col("_cnt")).cast("long").alias("shingle_rows"),
        F.min(F.when(F.col("_cdf") * 3 >= F.col("_tot"), F.col("_sz")))
        .cast("long")
        .alias("split_lo"),
        F.min(F.when(F.col("_cdf") * 3 >= 2 * F.col("_tot"), F.col("_sz")))
        .cast("long")
        .alias("split_hi"),
    )


def auto_ensemble_strata(
    split_lo: int, split_hi: int, num_hashes: int = 64
) -> tuple[tuple[int, int | None, int, int], ...]:
    """Corpus-derived ensemble strata: the :func:`ensemble_schemes`
    ladder anchored at the equi-depth tertile bounds
    (:func:`strata_split_points`) —
    ``((0, lo, H/4, 4), (lo, hi, H/2, 2), (hi, None, H, 1))``.

    Tied histograms collapse naturally: if the corpus is so uniform
    that ``split_lo == split_hi``, the middle stratum's half-open range
    is empty and the derivation degenerates toward a single scheme —
    exactly what a size-homogeneous corpus needs (there is no extreme
    size ratio for the ladder to recall)."""
    return (
        (0, int(split_lo), *ensemble_schemes(num_hashes)[0]),
        (int(split_lo), int(split_hi), *ensemble_schemes(num_hashes)[1]),
        (int(split_hi), None, *ensemble_schemes(num_hashes)[2]),
    )


#: In-memory HashedRelation footprint per narrow row (key + pointer +
#: row object) — the arithmetic the ensemble's join routing prices
#: broadcast candidates with.  64 MB builds comfortably inside ANY
#: driver the suite supports (a stock 1 GiB local heap included).
_BROADCAST_BYTES_PER_ROW = 48
_BROADCAST_BUDGET_BYTES = 64 << 20


def containment_lsh_ensemble_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    threshold: float = 0.8,
    strata: tuple[tuple[int, int | None, int, int], ...] | None = None,
    broadcast_budget_bytes: int = _BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """Containment search via SIZE-STRATIFIED MinHash banding — the
    LSH Ensemble idea (Zhu, Nazi, et al., "LSH Ensemble: Internet-Scale
    Domain Search", VLDB'16) in its deterministic fixed-strata form:
    the INDEX partitions by shingle-set size, each partition gets
    banding tuned to the Jaccard a containment-qualified pair would
    have against sets of that size, and every query probes every
    partition under that partition's scheme.  This closes
    :func:`containment_lsh_pairs`' documented recall gap: one global
    Jaccard-calibrated banding cannot recall an extreme-size-ratio
    quote, a size-tuned ensemble can.

    Output is DIRECTED (id_small = the contained query, id_big = the
    indexed container, containment >= threshold); a pair in which each
    side contains the other appears twice, once per direction — each
    direction is discovered by the container's stratum, so the
    asymmetry of the index IS the asymmetry of the relation.

    Scale shape: ONE signature pass (localCheckpointed — all schemes
    and both join roles reference it), one band-bucket relation per
    scheme tagged with its stratum index, then ONE fused self-equi-join
    on (stratum, band, bh) — the index side inner-joined to the
    doc->stratum map, which restricts each scheme's buckets to its
    stratum exactly as the per-stratum semi-joins did — candidates
    deduped once, and the exact containment verify on candidate docs
    only.  Candidate
    volume is the per-stratum banding volume — each stratum's (b, r)
    trades its own recall against its own candidate count, the knob the
    paper optimizes per partition.  Since r13 the strata BOUNDS are
    CORPUS-DERIVED by default (``strata=None``): equi-depth tertile
    split points of the per-doc shingle-count histogram
    (:func:`strata_split_points` — one bounded hash-agg plus a
    histogram-sized running sum, read back as one planner-statistic
    row), anchoring the fixed :func:`ensemble_schemes` ladder
    (:func:`auto_ensemble_strata`).  An explicit ``strata`` tuple stays
    available as the override (and is the degenerate-corpus fallback:
    an empty corpus has no split points, so the fixture literals
    apply — the output is empty either way).

    Measured memory footprint (r11 10x probe, docs/SCALE.md): this is
    the SUITE'S largest per-task working set — at 50k docs / 32 local
    threads the post-query JVM-in-use snapshot reads ~3 GB (the true
    transient peak is higher: the fused band join's sort plus the
    verify's full candidate shingle sets),
    i.e. budget >= ~100 MB per concurrent task at ~1.6k docs/task.  On
    a 1 GiB-total stock local JVM (~30 MB/task) the 10x run OOMs —
    engine sizing, not plan shape: every join is size-decided by AQE,
    and at real scale the doc-stratum map exceeds every broadcast
    threshold and shuffles on the id automatically.

    Verify-strategy A/B (r11, measured before keeping this shape): a
    join-based overlap verify — count shared (pair, shingle) rows
    through two equi-joins instead of building per-doc sorted arrays —
    is row-IDENTICAL at sf0.01/sf0.1 but 1.3x slower at sf0.1 (8.1 s
    vs 6.1 s best-of-3) and 2.4x slower at 10x (69 s vs 29 s, 16 GB
    heap): it re-shuffles the corpus shingle relation twice keyed by
    (id, shingle), while the array build pays one groupBy.  It also
    does NOT widen the memory envelope, because the 1 GiB binding
    constraint is the shared CANDIDATE phase, not the verify.  The
    array verify therefore stays; revisit only for giant-document
    corpora where a single doc's shingle array itself is the hazard."""
    rows_total = num_hashes
    sigs = minhash_signatures(
        df, id_col, text_col, rows_total, shingle_k
    ).localCheckpoint(eager=True)
    # per-doc shingle count, NARROW (r10 perf; r13: HASHED) — n is the
    # size of the per-doc distinct HASHED shingle array, i.e. exactly
    # the set the signatures minhash (the LSH Ensemble formulation:
    # strata stratify the sets the index actually sees).  Hashed counts
    # instead of string-gram counts because building string grams in the
    # interpreted higher-order-function path costs ~10x the integer
    # combine (measured at sf0.1: 3.0 s -> 0.3 s for this pass); the
    # DuckDB oracle counts the same hs relation, so both engines agree
    # bit-exactly by construction, and per-doc counts were verified
    # equal to the string-gram counts on every fixture (sf0.001/0.01/
    # 0.1: 0 mismatches).  Still no shuffle — the count is computed in
    # the scan projection; the explode + groupBy formulation shuffled
    # every shingle row of the corpus just to count them.  Shingle-less
    # docs are dropped by _hashed_shingle_docs itself (they carry no
    # signature so they could never be indexed anyway).
    counts = (
        _hashed_shingle_docs(df, id_col, text_col, shingle_k)
        .select("_id_", F.size("_sh").alias("n"))
        .localCheckpoint(eager=True)
    )

    # ONE fused band join instead of one join per stratum (r10 perf):
    # tag each scheme's bucket relation with its stratum index, map each
    # document to the stratum/strata that index it, and join once on
    # (_s, band, bh).  Restricted to _s = i the fused join is exactly
    # stratum i's full-query-side x stratum-semi-filtered-index-side
    # join, so the deduped candidate set is bit-identical to the
    # per-stratum formulation — but the join/shuffle machinery runs
    # once instead of len(strata) times (A/B-verified identical rows;
    # candidate phase 4.4 s -> ~2 s at sf0.1).  strata_map carries one
    # row per (doc, stratum-that-indexes-it) — doc-count-sized, the same
    # relation the per-stratum semi-joins scanned; at 100 TB it shuffles
    # on the id like any corpus-keyed join (locally it broadcasts).
    # Memory-envelope routing (VERDICT r11 item 4, the suite's 1 GiB-stock
    # 10x envelope failure).  Everything below is priced by EXACT row
    # arithmetic — one band row per (band, doc), one shingle row per
    # distinct per-doc shingle — from two bounded jobs on relations that
    # are already checkpointed (same discipline as the CMS planner reads
    # in join_cms_adaptive_strategy).  When the footprint exceeds the
    # stock budget:
    #   * checkpoints switch to DISK_ONLY — deserialized MEMORY_AND_DISK
    #     blocks for band/candidate/set relations are ~0.5 GB of heap at
    #     10x fixture scale, which starves executor tasks long before
    #     any single sort is large (measured: the stock-1 GiB OOM
    #     reproduces with EMPTY execution pools);
    #   * the fused band join and the verify joins pin sort-merge —
    #     LogicalRDD carries no usable size statistic, so static
    #     planning otherwise broadcasts the whole band union (~270 MB
    #     built form: "Not enough memory to build and broadcast").
    # Inside the budget both knobs keep today's measured-faster plans
    # (memory-backed checkpoints + optimizer-chosen broadcast).
    if strata is None:
        # corpus-derived strata (VERDICT r12 item 3): equi-depth bounds
        # from the size histogram, read back as ONE 1-row collect over
        # the bounded-histogram aggregate (counts is already
        # checkpointed).  n_docs and shingle_rows ride the SAME
        # aggregate (r13): counts carries exactly one row per signed
        # doc, so n_sized == the old sigs.count() and shingle_rows ==
        # the old counts sum — three planner-statistic jobs fused into
        # one driver read.
        srow = strata_split_points(counts).collect()[0]
        n_docs = srow.n_sized or 0
        shingle_rows = srow.shingle_rows or 0
        strata = (
            auto_ensemble_strata(srow.split_lo, srow.split_hi, rows_total)
            if srow.split_lo is not None and srow.split_hi is not None
            else ENSEMBLE_STRATA
        )
    else:
        stat = counts.agg(
            F.count("*").alias("_nd"), F.sum("n").alias("_sr")
        ).collect()[0]
        n_docs = stat._nd
        shingle_rows = stat._sr or 0
    band_rows = n_docs * sum(b for _, _, b, _ in strata)
    oversized = (
        max(band_rows, shingle_rows + n_docs) * _BROADCAST_BYTES_PER_ROW
        > broadcast_budget_bytes
    )
    ckpt_level = StorageLevel.DISK_ONLY if oversized else None

    tagged = None
    strata_map = None
    for si, (lo, hi, bands, rows_per_band) in enumerate(strata):
        b = lsh_band_buckets(sigs, id_col, bands, rows_per_band).withColumn(
            "_s", F.lit(si)
        )
        tagged = b if tagged is None else tagged.unionByName(b)
        in_stratum = F.col("n") >= lo if hi is None else (
            (F.col("n") >= lo) & (F.col("n") < hi)
        )
        m = counts.filter(in_stratum).select(
            F.col("_id_").alias("_iid"), F.lit(si).alias("_si")
        )
        strata_map = m if strata_map is None else strata_map.unionByName(m)
    # ONE materialization of the fused band relation (both join roles
    # reference it) instead of one per scheme — recompute avoided is the
    # same, heap blocks held are a third.
    tagged = tagged.localCheckpoint(eager=True, storageLevel=ckpt_level)
    q_side = tagged.select(F.col("_id").alias("id_q"), "_s", "band", "bh")
    i_side = tagged.join(
        strata_map,
        (F.col("_id") == F.col("_iid")) & (F.col("_s") == F.col("_si")),
    ).select(F.col("_id").alias("id_i"), "_s", "band", "bh")

    q_join = q_side.hint("merge") if oversized else q_side
    pairs_raw = (
        q_join.join(i_side, ["_s", "band", "bh"])
        .filter(F.col("id_q") != F.col("id_i"))
        .select("id_q", "id_i")
    )
    if oversized:
        # Break the fused (sort + sort + partial-agg + N-way shuffle
        # write) stage: at a stock local heap the two SMJ sorts
        # legitimately fill the execution pool, and the stage's
        # UNMANAGED shuffle-writer buffers (numPartitions
        # DiskBlockObjectWriters per running task) then tip the JVM
        # over — measured at 10x: the join+count runs, the identical
        # join+exchange OOMs.  Materializing the raw pair stream to
        # disk ends the sort stage before any shuffle write exists;
        # the dedup aggregate then starts from disk blocks with an
        # empty execution pool.  Cluster deployments with ordinary
        # task budgets take the fused branch — partial aggregation
        # ahead of the shuffle is the right 100 TB shape.
        pairs_raw = pairs_raw.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    cand = pairs_raw.dropDuplicates().localCheckpoint(
        eager=True, storageLevel=ckpt_level
    )

    # verify sets: the per-doc distinct HASHED shingle array, computed
    # directly in the scan projection over the candidate-semi-filtered
    # corpus (r13).  This replaces the explode -> semi-join -> groupBy ->
    # collect_list -> sort_array pipeline: the per-doc array IS
    # _hashed_shingle_docs' output, so no corpus-shingle shuffle exists
    # at all, the arrays are primitive longs instead of gram strings
    # (smaller checkpoint blocks, cheaper array_intersect), and no sort
    # is needed (only the intersection SIZE is consumed).  novl/n are
    # identical to the string-set verify absent hash collisions, the
    # oracle intersects the same hs relation (lockstep), and the full
    # ensemble output was verified bit-identical to the string-set form
    # on every fixture.
    sets = (
        _hashed_shingle_docs(
            _candidate_docs(df, cand, id_col, "id_q", "id_i"), id_col, text_col, shingle_k
        )
        .select("_id_", F.col("_sh").alias("_set"), F.size("_sh").alias("n"))
        # referenced by both join sides; DISK_ONLY when oversized —
        # per-doc shingle ARRAYS are shingle-row-sized heap when
        # deserialized (conservatively priced on the full corpus; the
        # candidate-doc restriction only shrinks it)
        .localCheckpoint(eager=True, storageLevel=ckpt_level)
    )
    a = sets.select(
        F.col("_id_").alias("id_q"), F.col("_set").alias("_sq"), F.col("n").alias("nq")
    )
    b = sets.select(F.col("_id_").alias("id_i"), F.col("_set").alias("_si"))
    inter = F.size(F.array_intersect(F.col("_sq"), F.col("_si"))).cast("double")
    if oversized:
        # shuffle-hash, not sort-merge: SMJ would SORT the candidate
        # stream while it carries the per-doc shingle arrays (~1 KB/row
        # at 10x — a multi-GB external sort that re-OOMs the stock
        # heap); SHJ builds the per-partition hash map of the SMALL
        # array side (sets/partitions, a few MB) and streams candidates
        # through it.  Measured at 10x stock-1 GiB: merge OOMs in the
        # final join stage, shuffle_hash completes in ~20 s.
        a, b = a.hint("shuffle_hash"), b.hint("shuffle_hash")
    return (
        cand.join(a, "id_q")
        .join(b, "id_i")
        .select(
            F.col("id_q").alias("id_small"),
            F.col("id_i").alias("id_big"),
            (inter / F.col("nq")).alias("containment"),
        )
        .filter(F.col("containment") >= float(threshold))
    )


#: Quotient-graph edges :func:`connected_components` collects to the
#: driver for its union-find finish (driver-memory arithmetic in
#: docs/SCALE.md, "Connected-components driver bound").
CC_DRIVER_BOUND = 1 << 18


def _min_root_union_find(edges: list) -> dict:
    """``{label: smallest label of its component}`` for every label on
    ``edges`` whose root is not itself: union-find with path compression
    that always hangs the larger root under the smaller, so each root is
    its component's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: r for x in list(parent) if (r := find(x)) != x}


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over a near-dup pair graph.  Returns (node,
    component) where component is the minimum node id reachable from
    ``node``.

    This is the step every production dedup pipeline needs after
    candidate pairs: near-duplication is transitive in intent (A~B, B~C
    -> one cluster) but pairwise in measurement, so keep-one-per-cluster
    requires the transitive closure.

    One algorithm, contract on the executors and finish on the driver.
    ``labels`` maps each node to a label, and the quotient graph is the
    set of ``(label(src), label(dst))`` edges whose labels differ; at the
    start every node is its own label and the quotient is the input
    pairs.  Each iteration first collects at most
    ``CC_DRIVER_BOUND + 1`` quotient edges (one ``TakeOrderedAndProject``
    job).  If they fit, a min-root union-find over the labels runs on the
    driver and one join applies its label map, so a graph of up to
    ``CC_DRIVER_BOUND`` edges takes no Spark round.  Otherwise one
    min-label round runs on the executors — one join + one min-aggregate,
    a label moves one hop — and the quotient is re-derived from the new
    labels.  Each round's labels are materialized with
    ``localCheckpoint``: iterative DataFrames MUST truncate lineage, since
    the label plan references itself and doubles per round.  If the
    quotient still does not fit after ``max_iter`` rounds a
    ``RuntimeError`` is raised.  Large-star/small-star (Kiveris et al.,
    SoCC 2014) bounds rounds by O(log n) on the same skeleton.

    Construction runs two jobs on a graph that fits: the edge checkpoint
    (the input is read once, however costly its plan) and the bounded
    collect.  The result is lazy: the distinct nodes joined with a
    driver-built ``LocalTableScan`` label map.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint()
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    quotient = edges
    for rnd in range(max_iter + 1):
        cut = (
            quotient.filter(F.col("src") != F.col("dst"))
            .orderBy("src", "dst")
            .limit(CC_DRIVER_BOUND + 1)
            .collect()
        )
        if len(cut) <= CC_DRIVER_BOUND:
            roots = _min_root_union_find(cut)
            if not roots:
                return labels
            dtype = labels.schema["component"].dataType
            root_map = pairs.sparkSession.createDataFrame(
                pd.DataFrame({"_label": list(roots), "_root": list(roots.values())}),
                StructType([StructField("_label", dtype), StructField("_root", dtype)]),
            )
            return labels.join(
                root_map, labels["component"] == root_map["_label"], "left"
            ).select("node", F.coalesce("_root", "component").alias("component"))
        if rnd == max_iter:
            break
        neigh = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), "component"
        )
        labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        ls = labels.select(F.col("node").alias("src"), F.col("component").alias("ls"))
        ld = labels.select(F.col("node").alias("dst"), F.col("component").alias("ld"))
        quotient = (
            edges.join(ls, "src")
            .join(ld, "dst")
            .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
            .distinct()
        )
    raise RuntimeError(
        f"connected_components: quotient graph still above {CC_DRIVER_BOUND} "
        f"edges after max_iter={max_iter} rounds; the pair graph's diameter "
        "exceeds it"
    )


def simhash64(hashes_col: Column | str, n_bits: int = 64) -> Column:
    """``n_bits``-bit SimHash from a pre-computed token-hash array: for
    each bit b, sum +1/-1 according to bit b of the hash; the
    fingerprint sets bit b if the sum is positive.  The text path passes
    ``n_bits=60`` (the md5-derived base hash carries 60 meaningful bits
    — functions/hashfamily.py); 64 remains the default for full-width
    hash inputs.

    Takes the HASH array, not the text: the caller materializes
    ``transform(tokens(text), xxhash64)`` in its own projection first
    (see :func:`simhash_near_dups`), so each token is hashed exactly
    once.  Each bit is then an independent ``aggregate`` with a SCALAR
    long accumulator over that array.  The earlier formulation
    (one pass with a 64-slot counter array, ``zip_with`` + 64-element
    array literal per token) allocated two arrays per token per row in
    the interpreted higher-order-function path and OOM-killed executors
    on a default-sized (1 GiB) heap; 64 scalar folds do the same work
    with zero per-element allocation and run in bounded memory
    regardless of session sizing."""
    if not isinstance(hashes_col, str):
        raise TypeError("simhash64 takes the hash-array COLUMN NAME")

    # One SQL string, not 64 unrolled py4j Columns: the py4j form cost
    # ~2 s of driver-side construction latency per query (one round trip
    # per Column op); this parses JVM-side in ~5 ms and evaluates
    # bit-identically (A/B-verified).  Bit positions stay LITERALS so
    # the hash-array column is referenced 64 times textually —
    # single-referencing it from inside a `transform(sequence(...))`
    # lambda lets CollapseProject inline the tokenize+hash projection
    # into the loop body and recompute it per bit (the same 12x
    # regression measured on the MinHash twin, minhash_signatures).
    # Each bit remains an independent SCALAR-accumulator fold with zero
    # per-element allocation, so the bounded-memory guarantee above is
    # preserved.
    bit_terms = " | ".join(
        f"(CASE WHEN aggregate({hashes_col}, 0,"
        f" (acc, t) -> acc + (CASE WHEN (shiftright(t, {b}) & 1) = 1"
        f" THEN 1 ELSE -1 END)) > 0"
        f" THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return F.expr(bit_terms)


def hamming_band_buckets(
    fp: DataFrame, id_col: str, fp_col: str, bits_per_band: int = 16
) -> DataFrame:
    """The banded-Hamming join relation: one ``(_id, fp, band, bv)``
    row per 4-way band split of each fingerprint.  Factored out of
    :func:`hamming_near_dup_pairs` so the scale-growth audit
    (operators/scale_audit.py, docs/SCALE.md) can measure band-bucket
    occupancy — the quantity whose birthday-collision growth decides
    when ``bits_per_band`` must widen with the corpus."""
    mask = (1 << bits_per_band) - 1
    clean = fp.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("fp"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("fp", b * bits_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(4)
        ]
    )
    return clean.select("_id", "fp", F.explode(bands).alias("b")).select(
        "_id", "fp", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )


def hamming_near_dup_pairs(
    fp: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int = 3,
    bits_per_band: int = 16,
) -> DataFrame:
    """Near-dup pairs among bit fingerprints with Hamming distance
    <= ``max_hamming`` (<= 3), as (id_a, id_b, hamming) rows.

    Blocking: split the fingerprint into 4 ``bits_per_band``-bit bands;
    by pigeonhole any pair within Hamming distance 3 agrees on at least
    one band, so candidates come from an equi-join on (band, band_value)
    — never a cross join.  Exact distance check via bit_count(xor).
    Shared by the text SimHash path (:func:`simhash_near_dups`, 60-bit
    fingerprints -> 4x15-bit bands) and the image average-hash path
    (operators/multimodal.ahash_features, 64-bit -> 4x16 default) — any
    fingerprint of 4*bits_per_band bits plugs in unchanged.

    Pigeonhole guarantees FULL recall only for max_hamming <= 3 (4
    bands tolerate 3 differing bits); larger thresholds still work but
    probabilistically, like any LSH — pairs whose 4+ flipped bits land
    in all 4 bands are missed."""
    buckets = hamming_band_buckets(fp, id_col, fp_col, bits_per_band)
    left = buckets.select(
        F.col("_id").alias("id_a"), F.col("fp").alias("fp_a"), "band", "bv"
    )
    right = buckets.select(
        F.col("_id").alias("id_b"), F.col("fp").alias("fp_b"), "band", "bv"
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        left.join(right, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming,
    via the shared banded Hamming join (:func:`hamming_near_dup_pairs`,
    4x15-bit bands over the 60-bit md5-derived fingerprint — the
    engine-portable base hash of functions/hashfamily.py, which is what
    lets dedup_simhash carry a full DuckDB replay oracle).

    Token hashes are materialized in their own projection before the
    60-bit fold: the hash array is referenced 60 times by simhash64, and
    a separate projection step stops CollapseProject from inlining (and
    recomputing) the tokenize+hash per bit."""
    # 60 per-token bit tests per row: compute-bound, not byte-bound
    hashed = scale_out(df).select(
        F.col(id_col).alias("_id"),
        F.transform(tokens(text_col), _h60).alias("_th"),
    )
    fp = hashed.select("_id", simhash64("_th", n_bits=60).alias("fp"))
    return hamming_near_dup_pairs(fp, "_id", "fp", max_hamming, bits_per_band=15)


__all__ = [
    "shingles",
    "exact_dedup",
    "fingerprint",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_verify",
    "minhash_lsh_dedup",
    "simhash64",
    "hamming_near_dup_pairs",
    "simhash_near_dups",
]


_OPH_EMPTY = (1 << 63) - 1  # Long.MaxValue sentinel: bucket saw no hash


def oph_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """One-Permutation-Hashing MinHash signatures (Li, Owen, Zhang,
    NIPS 2012): instead of ``num_hashes`` independent re-hashes of every
    shingle, hash each shingle ONCE (the md5-derived token-combine hash
    of :func:`_hashed_shingle_docs` — DuckDB-replayable) and split hash
    space into ``num_buckets`` slots — ``sig[j] = min over shingles
    with pmod(h, B) = j``.  Hash cost per shingle drops from B
    evaluations to 1, with the same collision-probability contract per
    slot.
    Measured honestly at sf0.1 (5k short docs): warm steady-state
    equals the classic path (0.54 s — this fixture is overhead-bound,
    not hash-bound) while the cold first run halves (1.6 s vs 3.1 s,
    less interpreted work to JIT); the 64x hash-work reduction is the
    term that dominates once documents are real-sized and the corpus
    no longer fits in fixed overheads.  Both pipelines emit identical
    pairs on the fixture (256 at sf0.1, threshold 0.5).

    Empty buckets (a doc with few shingles can't fill all B slots) are
    repaired by ROTATION DENSIFICATION (Shrivastava & Li, ICML 2014):
    slot j borrows the value of the nearest non-empty slot clockwise.
    Two similar documents empty the same slots with high probability and
    borrow from the same donors, so banding probabilities survive; the
    known refinement (re-hash the borrowed value with the offset to
    de-correlate repeated borrows) is deliberately omitted — it needs a
    per-slot re-hash, and the fixture documents fill most slots anyway
    (recall measured against the exact baseline in
    tests/test_dedup_ops.py).

    Everything is two JVM-parsed expressions over one shingle-hash
    array: per-slot scalar reductions (``array_min(filter(...))`` — the
    bounded-memory pattern minhash_signatures documents; an
    array-accumulator fold would allocate a B-wide array per shingle in
    the interpreted HOF path, the exact shape that OOM-killed the round-1
    SimHash on a default 1 GiB heap), then a densify pass — no explode,
    no shuffle, no per-shingle re-hash.  Documents with no shingles are
    dropped (as in minhash_signatures).
    """
    B = num_buckets
    hashed = _hashed_shingle_docs(df, id_col, text_col, shingle_k)
    raw = F.expr(
        "array("
        + ",".join(
            f"coalesce(array_min(filter(_sh, h -> pmod(h, {B}) = {j})), "
            f"CAST({_OPH_EMPTY} AS BIGINT))"
            for j in range(B)
        )
        + ")"
    )
    with_raw = hashed.select(F.col("_id_"), raw.alias("_raw"))
    densified = F.expr(
        f"transform(_raw, (v, j) -> IF(v <> {_OPH_EMPTY}, v, "
        f"element_at(filter(transform(sequence(0, {B - 1}), "
        f"k -> element_at(_raw, pmod(j + k, {B}) + 1)), "
        f"x -> x <> {_OPH_EMPTY}), 1)))"
    )
    return with_raw.select(F.col("_id_").alias(id_col), densified.alias("sig"))


def oph_minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline on OPH signatures: identical
    banding, candidate equi-join, and exact-Jaccard verification as
    :func:`minhash_lsh_dedup` (the band join and verify stages are
    literally the same functions) — only the signature stage changes,
    cutting per-shingle hash work by ~num_buckets x.  Because the final
    exact-Jaccard verify filters candidates, the OUTPUT contract is the
    same one-sided semantics: no false positives ever; misses only if
    every band disagrees."""
    sigs = oph_signatures(df, id_col, text_col, num_buckets, shingle_k)
    cands = _banded_candidates(sigs, id_col, bands, num_buckets // bands)
    return jaccard_verify(cands, df, id_col, text_col, shingle_k, threshold)


def minhash_lsh_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    corpus_index: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Ingestion-time near-dup dedup: check an INCREMENT against an
    LSH-indexed corpus (plus itself) without ever re-processing the
    corpus — the fuzzy generalization of the reference's anti-join
    incremental load (ETL_pipeline_countries.py:137, which dedups by
    exact id only).

    Shape: sign the increment only; join its band buckets against the
    stored corpus index (equi-join on (band, bh)); require the NEW side
    on the left so emitted pairs always involve an increment document
    (new-vs-corpus and new-vs-new; corpus-vs-corpus pairs were already
    handled when those docs were ingested).  Verification re-shingles
    only the documents appearing in some candidate pair.

    Per-increment cost is O(|increment| + collisions) regardless of
    corpus size — the difference between a daily dedup bill that scales
    with the DAY and one that scales with ALL HISTORY.  ``corpus_index``
    accepts a precomputed index (the persisted-table path); when None it
    is derived here (corpus signatures computed once in this plan).
    """
    rows_per_band = num_hashes // bands
    new_sigs = minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_k)
    # referenced twice below (as the probe side AND inside `other`) —
    # materialize so the increment is signed once, mirroring
    # lsh_candidate_pairs' bucket materialization
    new_buckets = lsh_band_buckets(
        new_sigs, id_col, bands, rows_per_band
    ).localCheckpoint(eager=True)
    if corpus_index is None:
        corpus_index = lsh_band_buckets(
            minhash_signatures(corpus_df, id_col, text_col, num_hashes, shingle_k),
            id_col,
            bands,
            rows_per_band,
        )
    other = corpus_index.union(new_buckets)
    # the NEW side is always the left input; canonicalize (not filter) the
    # id order afterwards — a plain id_a < id_b filter would silently drop
    # every new-vs-corpus pair whose increment id sorts above the corpus id
    cands = (
        new_buckets.select(F.col("_id").alias("id_a"), "band", "bh")
        .join(other.select(F.col("_id").alias("id_b"), "band", "bh"), ["band", "bh"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    return jaccard_verify(
        cands, new_df.unionByName(corpus_df), id_col, text_col, shingle_k, threshold
    )


def span_gram_positions(
    df: DataFrame, id_col: str, text_col: str, gram_k: int = 8
) -> DataFrame:
    """The positional-gram relation of :func:`duplicated_spans`: one
    ``(_id_, pos, gh)`` row per token position, ``gh`` = the SPAN_C
    positional combine of md5-60 token hashes.  Factored out so the
    scale-growth audit (operators/scale_audit.py, docs/SCALE.md) can
    measure the df-gated gram join volume on exactly the relation the
    production operator shuffles.

    One md5 per token into its own projection (`_th` is referenced
    gram_k times by the combine; the projection barrier stops
    CollapseProject from re-tokenizing per position — see
    _hashed_shingle_docs).  Filter first, on a fresh cheap split."""
    from end_to_end_data_engineering_project_with_databricks_spark.functions.hashfamily import (
        SPAN_C,
    )

    tokh = (
        scale_out(df)
        .filter(F.size(tokens(text_col)) >= gram_k)
        .select(
            F.col(id_col).alias("_id_"),
            F.transform(
                tokens(text_col), lambda t: F.pmod(_h60(t), F.lit(MERSENNE_P))
            ).alias("_th"),
        )
    )
    combine = " + ".join(
        f"pmod({SPAN_C[j]} * element_at(_th, i + {j}), {MERSENNE_P})"
        for j in range(gram_k)
    )
    gram_sql = (
        f"transform(sequence(1, size(_th) - {gram_k - 1}), "
        f"i -> named_struct('pos', i, 'gh', pmod({combine}, {MERSENNE_P})))"
    )
    return tokh.select(
        "_id_", F.explode(F.expr(gram_sql)).alias("_g")
    ).select("_id_", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh"))


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_k: int = 8,
    min_tokens: int = 10,
    max_df: int = 64,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the Spark-first form of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): instead of a global suffix
    array (inherently sequential, memory O(corpus)), every token
    position emits one ``gram_k``-token positional gram hash, grams
    appearing in 2..``max_df`` documents equi-join across documents, and
    per (pair, alignment-diagonal) runs of consecutive matching
    positions merge into maximal spans via gaps-and-islands — a
    partitioned window over the (small) match set, never the corpus.

    Matching spans longer than ``gram_k`` tokens produce consecutive
    matching gram positions on one diagonal (gram ``p`` and ``p+2``
    matching forces ``p+1`` to match too — its tokens are covered by the
    union of the two), so islands of consecutive ``pos_a`` ARE the
    maximal duplicated spans; ``span_tokens = run_length + gram_k - 1``.
    Hash collisions are squeezed out by an exact token-slice equality
    verify on the surviving spans (the :func:`jaccard_verify` pattern:
    two id equi-joins against the semi-filtered corpus).

    Scale shape (100 TB): the gram projection is a narrow map (one md5
    per token, positional ``SPAN_C`` integer combine — the shingle-hash
    trick of :func:`_hashed_shingle_docs` at ``k=8``); the document-
    frequency gate drops every gram that cannot match (df < 2) or is
    boilerplate-hot (df > ``max_df``, the quadratic-bucket guard —
    df >= 2 alone shrinks the join input to the duplicated fraction of
    the corpus); the only corpus-wide shuffles are the df hash-agg and
    the gram equi-join, both keyed on the gram hash.  The island window
    partitions by (id_a, id_b, diagonal) — bounded by a document's token
    count, never corpus-wide.  Returns
    (id_a, id_b, a_start, b_start, span_tokens) with id_a < id_b,
    1-based token offsets, spans >= ``min_tokens`` tokens.

    Every step is exact integer algebra on the md5-60 hash family, so a
    DuckDB oracle replays the whole pipeline value-for-value
    (queries/dedup.DEDUP_SPAN_NGRAM_ORACLE).
    """
    from pyspark.sql.window import Window

    grams = span_gram_positions(df, id_col, text_col, gram_k)

    # Document-frequency gate: only grams shared by >= 2 documents can
    # produce a span; > max_df is boilerplate (a quadratic bucket at
    # scale) — skip it, as the published pipelines do.  AQE broadcasts
    # the surviving gram-key set when it is small.
    eligible = (
        grams.groupBy("gh")
        .agg(F.count_distinct("_id_").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("gh")
    )
    # Materialize before the self-join: both sides reference this
    # subtree, and without a materialization point Spark recomputes the
    # full gram pipeline once per side (the lsh_candidate_pairs lesson).
    hits = grams.join(eligible, "gh").localCheckpoint(eager=True)

    a = hits.select(F.col("_id_").alias("id_a"), F.col("pos").alias("pos_a"), "gh")
    b = hits.select(F.col("_id_").alias("id_b"), F.col("pos").alias("pos_b"), "gh")
    matches = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
    )

    diag = F.col("pos_a") - F.col("pos_b")
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    spans = (
        matches.withColumn("diag", diag)
        .withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "_isl")
        .agg(F.min("pos_a").alias("a_start"), F.count("*").alias("_n"))
        .select(
            "id_a",
            "id_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("_n") + F.lit(gram_k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
    )

    # Exact verify (hash-collision guard): the claimed token slices must
    # be equal.  Joins touch only documents that appear in some span.
    toks_df = _candidate_docs(scale_out(df), spans, id_col).select(
        F.col(id_col).alias("_vid"), tokens(text_col).alias("_tk")
    )
    ta = toks_df.select(F.col("_vid").alias("id_a"), F.col("_tk").alias("_tka"))
    tb = toks_df.select(F.col("_vid").alias("id_b"), F.col("_tk").alias("_tkb"))
    slice_a = F.expr("slice(_tka, a_start, span_tokens)")
    slice_b = F.expr("slice(_tkb, b_start, span_tokens)")
    return (
        spans.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(slice_a == slice_b)
        .select(
            "id_a",
            "id_b",
            F.col("a_start").cast("bigint").alias("a_start"),
            F.col("b_start").cast("bigint").alias("b_start"),
            F.col("span_tokens").cast("bigint").alias("span_tokens"),
        )
    )


def jaccard_prefix_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """The PPJoin CANDIDATE stage of :func:`jaccard_prefix_filter_pairs`
    — distinct ``(id_a, id_b)`` pairs sharing at least one prefix
    shingle, before the exact verify.  Factored out so the scale-growth
    audit (operators/scale_audit.py, docs/SCALE.md) can measure
    candidate volume — THE quantity whose growth order decides whether
    the operator survives a 100x scale-up — on exactly the relation the
    production operator verifies.  See the parent docstring for the
    correctness argument of the prefix bound.

    ``shingle_rel``: optional pre-built ``(_id_, sh)`` exploded-shingle
    relation, passed by the parent so both stages share ONE definition
    of the shingling (ADVICE r8).  Honest scope note: the shared
    DataFrame is deliberately LAZY, so the physical plan still scans the
    corpus once per consuming stage — measured at sf0.1, materializing
    it (localCheckpoint) is NET SLOWER (8.9 s vs 8.0 s full-pipeline
    avg) because writing the full exploded-shingle relation costs more
    than the narrow tokenize+shingle re-scan it saves, the same verdict
    as the r6 hashed-shingle A/B.  The sharing buys definitional
    consistency (one place to change k/tokenization), not a saved scan;
    standalone callers omit it.

    Per-doc set sizes ride the rank window itself (r14):
    ``count(*) over (partition by _id_)`` shares the window's
    hashpartitioning(_id_) exchange, so the separate explode + hash-agg
    + equi-join that used to deliver ``n`` is gone from the plan
    (HashAggregate pairs 2 -> 1, one fewer BroadcastHashJoin in the
    prefix subtree; the candidate self-join verified still broadcast,
    0 SortMergeJoin — the r13 estimate-perturbation trap applied to
    REPLACING the aggregate's source, not to removing the join).  Two
    alternatives measured this round and NOT adopted: hashed prefix
    keys (order by (df, h60(sh)), join on the hash — provably a
    candidate superset, output identical) and hashed+windowed combined
    were both within host noise at sf0.1 (6.0-6.9 s full-pipeline
    mins across interleaved runs) while adding an md5 per shingle row;
    the windowed count is the variant with a strict plan-shape win."""
    sh = shingle_rel
    if sh is None:
        sh = scale_out(df).select(
            F.col(id_col).alias("_id_"), F.explode(shingles(text_col, k)).alias("sh")
        )
    freq = sh.groupBy("sh").agg(F.count("*").alias("_dfreq"))

    from pyspark.sql.window import Window

    w = Window.partitionBy("_id_").orderBy("_dfreq", "sh")
    n = F.count("*").over(Window.partitionBy("_id_"))
    prefix_len = n - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)) + F.lit(1)
    # Rank shingles rarest-first within each document, keep the prefix.
    # Materialize: the prefix relation feeds BOTH sides of the candidate
    # self-join (the lsh_candidate_pairs lesson — without a barrier the
    # df-agg + window pipeline re-runs once per side).
    prefix = (
        sh.join(freq, "sh")
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_pl", prefix_len)
        .filter(F.col("_rk") <= F.col("_pl"))
        .select("_id_", "sh")
        .localCheckpoint(eager=True)
    )
    return (
        prefix.select(F.col("_id_").alias("id_a"), "sh")
        .join(prefix.select(F.col("_id_").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """EXACT threshold-Jaccard set-similarity self-join via PREFIX
    FILTERING — the PPJoin/All-Pairs candidate scheme (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW'08),
    re-expressed as two DataFrame equi-joins.  Unlike the MinHash-LSH
    ladder this path is exact: the answer set is IDENTICAL to the naive
    all-pairs join (crosschecked in tests/test_dedup_ops.py), only the
    candidate generation shrinks.

    The filter: order every document's shingle set by a single GLOBAL
    key (ascending document frequency, shingle string as tie-break) and
    keep only each document's first ``n - ceil(t*n) + 1`` shingles (its
    "prefix").  Any pair with ``J >= t`` must share at least one prefix
    shingle of BOTH documents: ``J(A,B) >= t`` implies
    ``|A∩B| >= t*|A∪B| >= t*|A|``, and a pair sharing nothing in A's
    prefix can intersect A in at most ``ceil(t*|A|) - 1`` elements.  So
    the equi-join of prefixes over-generates, never under-generates, and
    the exact ``array_intersect`` verify finishes the job.

    Scale shape (100 TB): the naive inverted-index join explodes on hub
    shingles (a gram in 1M docs → 10^12 join rows).  Rarest-first global
    ordering puts hub shingles LAST, so they fall outside every prefix —
    candidate volume concentrates on rare grams, the same df-gating
    economics as :func:`duplicated_spans` but without sacrificing
    exactness.  Shuffles: the df hash-agg (keyed on shingle), the
    per-document rank window (partitioned by ``id_col`` — never
    corpus-wide), the prefix equi-join (keyed on shingle), and two
    id-equi-joins against per-document shingle arrays for the verify —
    verify cost is O(candidates), not O(n²).  At higher thresholds the
    prefix shortens (t=0.9 keeps ~10% of each set), which is exactly
    when exact joins are wanted over LSH.

    The ``- 1e-9`` guard on ``ceil(t*n)`` keeps a float up-rounding of
    an exactly-integral ``t*n`` from shortening the prefix below the
    safe length (shorter prefix = missed pairs; longer = extra
    candidates only).

    Returns (id_a, id_b, jaccard) with ``id_a < id_b``, ``jaccard >=
    threshold`` — exact doubles from integer operands, replayed
    value-for-value by queries/dedup.DEDUP_JACCARD_PREFIX_ORACLE.
    """
    sh = (
        scale_out(df)
        .select(F.col(id_col).alias("_id_"), F.explode(shingles(text_col, k)).alias("sh"))
    )
    # Exact verify on candidates only: per-document shingle arrays,
    # referenced by both sides -> one materialization.  Built DIRECTLY
    # in the scan projection (r13): shingles() already IS the per-doc
    # distinct array, so the explode -> groupBy -> collect_list ->
    # sort_array pipeline re-shuffled every shingle row just to
    # reassemble it — and the sort was dead weight (only the
    # intersection SIZE is consumed, which is order-independent).
    # The >= k tokens pre-filter keeps the same doc set the explode
    # form produced (gram-less docs had no rows) without tripping the
    # computed-array-filter trap.
    # n is derived AFTER the checkpoint so the shingle expression is
    # evaluated exactly once (a same-projection size(_set) reference
    # would collapse and inline the gram build a second time).
    sets = (
        scale_out(df)
        .filter(F.size(tokens(text_col)) >= k)
        .select(
            F.col(id_col).alias("_id_"),
            shingles(text_col, k).alias("_set"),
        )
        .localCheckpoint(eager=True)
        .withColumn("n", F.size("_set"))
    )
    # the candidate stage derives its own per-doc counts from its
    # shingle relation (``count(*) over (partition by _id_)`` on the
    # rank window, see jaccard_prefix_candidate_pairs), not from the
    # checkpointed sets above: a LogicalRDD carries no size statistics,
    # so reading sizes off it (or off a narrow HOF-filtered scan, which
    # estimates at full size) flipped the statically-planned broadcast
    # candidate join into a sort-merge join with two extra exchanges.
    cand = jaccard_prefix_candidate_pairs(
        df, id_col, text_col, threshold, k, shingle_rel=sh
    )
    sa = sets.select(
        F.col("_id_").alias("id_a"), F.col("_set").alias("_sa"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("_id_").alias("id_b"), F.col("_set").alias("_sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= float(threshold))
    )


def drop_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite a corpus by DELETING every duplicated token span from the
    higher-id document of each pair — the "drop all but one occurrence"
    rewrite of suffix-array substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), applied to the output
    of :func:`duplicated_spans`.

    Policy: ``spans`` rows carry ``id_a < id_b`` (canonicalized by the
    detector), and the rewrite keeps the ``id_a`` copy — tokens
    ``b_start .. b_start + span_tokens - 1`` are dropped from ``id_b``.
    Overlapping spans in one document (from different partners or
    different diagonals) union naturally: the drop set is DISTINCT
    (document, position).

    Scale shape (100 TB): the drop set is proportional to the
    DUPLICATED text volume, not the corpus — ``explode(sequence(...))``
    over span rows, one distinct + one per-document array agg, then a
    single equi-join back to the corpus keyed on the document id.  The
    rewrite itself is a narrow JVM ``filter`` lambda over each token
    array (cost O(tokens x drops-per-doc), drops bounded by the
    document's own length); unaffected documents pass through the left
    join untouched.  No window, no cross join, no Python.

    Returns one row per input document:
    ``(id_col, tokens_before, rewritten array<string>, affected boolean,
    tokens_after)``.
    """
    drops = (
        spans.select(
            F.col("id_b").alias("_did"),
            F.explode(
                F.expr("sequence(b_start, b_start + span_tokens - 1)")
            ).alias("_dpos"),
        )
        .dropDuplicates()
    )
    drop_arr = drops.groupBy("_did").agg(F.collect_list("_dpos").alias("_drop"))
    base = scale_out(df).select(F.col(id_col), tokens(text_col).alias("_tk"))
    return (
        base.join(drop_arr, F.col(id_col) == F.col("_did"), "left")
        .select(
            id_col,
            F.size("_tk").cast("bigint").alias("tokens_before"),
            F.when(F.col("_drop").isNull(), F.col("_tk"))
            .otherwise(
                F.expr("filter(_tk, (tok, i) -> NOT array_contains(_drop, i + 1))")
            )
            .alias("rewritten"),
            F.col("_drop").isNotNull().alias("affected"),
        )
        .withColumn("tokens_after", F.size("rewritten").cast("bigint"))
    )
