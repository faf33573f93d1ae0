"""Property tests for the approximate dedup operators (no SQL oracle):
MinHash-LSH must find planted near-duplicates; SimHash must find planted
small-perturbation duplicates; neither may report a pair the exact metric
rejects (verification step guarantees precision by construction).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_verify,
    minhash_lsh_dedup,
    simhash_near_dups,
)

VOCAB = [f"w{i}" for i in range(200)]


def _mk_docs(spark, n=60, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        toks = [rng.choice(VOCAB) for _ in range(80)]
        rows.append((i, " ".join(toks)))
    # plant near-duplicates: copy doc i with a few token edits
    planted = []
    for i, (base_id, text) in enumerate(rows[:5]):
        toks = text.split(" ")
        for j in range(3):  # 3 light edits ≈ J >= 0.9 on shingles
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        planted.append((1000 + base_id, " ".join(toks)))
    return spark.createDataFrame(rows + planted, "doc_id long, text string"), {
        (base_id, 1000 + base_id) for base_id in range(5)
    }


def test_minhash_lsh_finds_planted_near_dups(spark):
    df, planted = _mk_docs(spark)
    found = minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in found.collect()}
    missing = planted - pairs
    assert not missing, f"LSH missed planted near-dup pairs: {missing}"
    # precision by construction: every reported pair passes exact Jaccard
    assert all(r.jaccard >= 0.5 for r in found.collect())


def test_minhash_estimates_track_exact_jaccard(spark):
    df, planted = _mk_docs(spark)
    all_pairs = (
        df.alias("a")
        .join(df.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    exact = jaccard_verify(all_pairs, df, "doc_id", "text", threshold=0.5)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    found = minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5)
    found_pairs = {(r.id_a, r.id_b) for r in found.collect()}
    # LSH output must be a subset of the exact >=0.5 set (precision) and
    # find all of it here (high-similarity pairs, recall ~1 at J>=0.7)
    assert found_pairs <= exact_pairs
    assert exact_pairs == found_pairs


def test_simhash_finds_tiny_perturbations(spark):
    rng = random.Random(11)
    base = [rng.choice(VOCAB) for _ in range(120)]
    perturbed = list(base)
    perturbed[5] = "w_changed"  # single-token edit -> tiny Hamming delta
    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(perturbed))]
        + [(i + 10, " ".join(rng.choice(VOCAB) for _ in range(120))) for i in range(20)],
        "doc_id long, text string",
    )
    found = simhash_near_dups(df, "doc_id", "text", max_hamming=8)
    pairs = {(r.id_a, r.id_b) for r in found.collect()}
    assert (0, 1) in pairs


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r.text: (r.canonical_id, r.n_members) for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {"a b c": (1, 2), "x y z": (3, 1)}


def test_oph_minhash_finds_planted_near_dups_and_stays_precise(spark):
    """OPH signatures (one hash per shingle + rotation densification)
    must find the same planted near-dups as the classic per-family
    MinHash, with the same no-false-positives contract."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        oph_minhash_lsh_dedup,
    )

    df, planted = _mk_docs(spark)
    found = oph_minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in found.collect()}
    missing = planted - pairs
    assert not missing, f"OPH-LSH missed planted near-dup pairs: {missing}"
    assert all(r.jaccard >= 0.5 for r in found.collect())


def test_oph_signatures_shape_and_densification(spark):
    """Signatures are B-long, fully densified (no empty sentinel), and
    deterministic; a short doc (few shingles) still gets a full
    signature via rotation borrowing."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        _OPH_EMPTY,
        oph_signatures,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.sig for r in oph_signatures(df, "doc_id", "text", 16).collect()}
    assert set(rows) == {1, 2}
    for sig in rows.values():
        assert len(sig) == 16
        assert _OPH_EMPTY not in sig  # densified
    again = {r.doc_id: r.sig for r in oph_signatures(df, "doc_id", "text", 16).collect()}
    assert rows == again  # deterministic


def test_incremental_lsh_finds_cross_and_intra_increment_dups(spark, sf_dir):
    """Planted near-dups: one increment doc duplicating a CORPUS doc
    (both id orders) and two duplicating each other must all surface;
    corpus-vs-corpus pairs must NOT be re-emitted."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
    )

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    some = {r["doc_id"]: r["text"] for r in base.collect()[:3]}
    (id0, t0), (id1, t1) = list(some.items())[:2]
    corpus = base.unionByName(
        spark.createDataFrame([(100000, t1 + " x")], "doc_id long, text string")
    )
    new = spark.createDataFrame(
        [
            (200000, t0 + " y"),   # new id ABOVE its corpus twin's id
            (1, t1),               # new id BELOW its corpus twin (100000)
            (300000, "alpha beta gamma delta epsilon zeta eta theta"),
            (300001, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_dedup_incremental(
        new, corpus, "doc_id", "text", threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (id0, 200000) in got            # new-vs-corpus, new id larger
    assert (1, 100000) in got or (1, id1) in got  # new-vs-corpus, new id smaller
    assert (300000, 300001) in got         # new-vs-new
    new_ids = {200000, 1, 300000, 300001}
    assert all(a in new_ids or b in new_ids for a, b in got), got


# ---------------------------------------------------------------------------
# STAGED r7: duplicated-span detection (suffix-array dedup semantics)
# ---------------------------------------------------------------------------


def test_duplicated_spans_finds_planted_span(spark):
    """A verbatim 20-token block copied between two otherwise-unrelated
    documents must surface as exactly one maximal span with the right
    offsets and length; unrelated docs must produce nothing."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        duplicated_spans,
    )

    rng = random.Random(11)
    base = [rng.choice(VOCAB) for _ in range(60)]
    block = [f"blk{i}" for i in range(20)]  # tokens unique to the block
    doc_a = base[:10] + block + base[10:40]  # block at 1-based pos 11
    other = [rng.choice(VOCAB) for _ in range(50)]
    doc_b = other[:5] + block + other[5:30]  # block at 1-based pos 6
    doc_c = [rng.choice(VOCAB) for _ in range(60)]
    df = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b)), (3, " ".join(doc_c))],
        "doc_id long, text string",
    )
    out = duplicated_spans(df, "doc_id", "text", gram_k=8, min_tokens=10).collect()
    planted = [r for r in out if (r.id_a, r.id_b) == (1, 2)]
    assert len(planted) == 1, out
    r = planted[0]
    assert (r.a_start, r.b_start, r.span_tokens) == (11, 6, 20)
    assert all((x.id_a, x.id_b) == (1, 2) for x in out), out


def test_duplicated_spans_df_gate_drops_boilerplate(spark):
    """A gram shared by more than max_df documents is gated out — the
    quadratic-bucket guard — so a 10-doc boilerplate block with
    max_df=4 yields no pairs, and raising max_df re-admits it."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        duplicated_spans,
    )

    rng = random.Random(13)
    block = [f"bp{i}" for i in range(12)]
    rows = []
    for i in range(10):
        filler = [rng.choice(VOCAB) for _ in range(30)]
        rows.append((i, " ".join(filler[:3] + block + filler[3:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gated = duplicated_spans(df, "doc_id", "text", gram_k=8, min_tokens=10, max_df=4)
    assert gated.count() == 0
    open_df = duplicated_spans(
        df, "doc_id", "text", gram_k=8, min_tokens=10, max_df=64
    )
    assert open_df.count() == 45  # all C(10,2) pairs share the block


@pytest.mark.parametrize(
    "scale_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_staged_dedup_span_ngram_vs_oracle(spark, scale_dir: str) -> None:
    """The STAGED r7 span-dedup query hash-matches its full pipeline
    replay DuckDB oracle at every fixture scale (driver gate replica run
    early, same pattern as the staged PQ/JPEG queries)."""
    from tests.oracle import duckdb_connection, compare
    from end_to_end_data_engineering_project_with_databricks_spark.queries.dedup import (
        DEDUP_SPAN_NGRAM_ORACLE,
        dedup_span_ngram,
    )

    con = duckdb_connection(scale_dir)
    try:
        problems = compare(
            dedup_span_ngram(spark, scale_dir), con, DEDUP_SPAN_NGRAM_ORACLE
        )
    finally:
        con.close()
    assert not problems, "; ".join(problems)


def test_duplicated_spans_matches_naive_reference(spark):
    """Randomized crosscheck: on small corpora with planted copies,
    repeats, and overlaps, the distributed span detector must emit
    EXACTLY the spans a naive O(n^2) per-pair reference computes with
    the same semantics (df-gated grams, per-diagonal maximal runs,
    min-length filter) — pins the island window's boundary arithmetic
    (off-by-ones, multi-span pairs, same-block-twice diagonals)."""
    from collections import defaultdict

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        duplicated_spans,
    )

    K, MIN_TOKENS, MAX_DF = 3, 4, 64
    small_vocab = [f"v{i}" for i in range(6)]  # tiny vocab -> accidental matches

    def ref_spans(docs):
        grams = defaultdict(list)
        for did, toks in docs.items():
            for i in range(len(toks) - K + 1):
                grams[tuple(toks[i : i + K])].append((did, i + 1))
        allowed = [
            lst
            for lst in grams.values()
            if 2 <= len({d for d, _ in lst}) <= MAX_DF
        ]
        match_pos = defaultdict(set)
        for lst in allowed:
            for d1, p1 in lst:
                for d2, p2 in lst:
                    if d1 < d2:
                        match_pos[(d1, d2, p1 - p2)].add(p1)
        out = set()
        for (a, b, diag), ps_set in match_pos.items():
            ps = sorted(ps_set)
            start = prev = ps[0]
            runs = []
            for p in ps[1:]:
                if p == prev + 1:
                    prev = p
                else:
                    runs.append((start, prev))
                    start = prev = p
            runs.append((start, prev))
            for s, e in runs:
                span = (e - s + 1) + K - 1
                if span >= MIN_TOKENS:
                    out.add((a, b, s, s - diag, span))
        return out

    for seed in range(5):
        rng = random.Random(100 + seed)
        docs = {}
        for did in range(8):
            docs[did] = [rng.choice(small_vocab) for _ in range(rng.randrange(5, 25))]
        # plant a copied block, sometimes twice in the same target doc
        block = [rng.choice(small_vocab) for _ in range(rng.randrange(4, 9))]
        docs[0] = docs[0][:2] + block + docs[0][2:]
        docs[1] = block + docs[1][:5] + block
        df = spark.createDataFrame(
            [(did, " ".join(toks)) for did, toks in docs.items()],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b, r.a_start, r.b_start, r.span_tokens)
            for r in duplicated_spans(
                df, "doc_id", "text", gram_k=K, min_tokens=MIN_TOKENS, max_df=MAX_DF
            ).collect()
        }
        exp = ref_spans(docs)
        assert got == exp, f"seed {seed}: extra={got - exp} missing={exp - got}"


@pytest.mark.parametrize(
    "scale_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_staged_dedup_jaccard_prefix_vs_oracle(spark, scale_dir: str) -> None:
    """The STAGED r7 prefix-filter query hash-matches the NAIVE exact
    all-pairs oracle at every fixture scale — the oracle deliberately
    skips the prefix, so any candidate the filter wrongly prunes shows
    up as a missing row."""
    from tests.oracle import duckdb_connection, compare
    from end_to_end_data_engineering_project_with_databricks_spark.queries.dedup import (
        DEDUP_JACCARD_PREFIX_ORACLE,
        dedup_jaccard_prefix,
    )

    con = duckdb_connection(scale_dir)
    try:
        problems = compare(
            dedup_jaccard_prefix(spark, scale_dir), con, DEDUP_JACCARD_PREFIX_ORACLE
        )
    finally:
        con.close()
    assert not problems, "; ".join(problems)


def test_jaccard_prefix_filter_matches_naive(spark):
    """Randomized crosscheck at thresholds the fixtures don't hit
    (0.3, 0.7, 0.9) and non-integral t*n sizes: the prefix-filtered
    exact join must equal a brute-force per-pair Python Jaccard over
    planted near-dup corpora — pins the prefix-length arithmetic
    (ceil guard, rarest-first ordering) where an off-by-one silently
    drops borderline pairs."""
    import itertools
    import random

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )

    vocab = [f"w{i}" for i in range(40)]
    for seed, threshold in [(1, 0.3), (2, 0.7), (3, 0.9), (4, 0.5)]:
        rng = random.Random(seed)
        docs = {}
        for did in range(10):
            docs[did] = [rng.choice(vocab) for _ in range(rng.randrange(6, 20))]
        # plant near-dups: shared suffix after short unique prefixes
        base = [rng.choice(vocab) for _ in range(14)]
        docs[10] = base
        docs[11] = base[:1] + base  # high overlap
        docs[12] = [rng.choice(vocab)] * 2 + base[3:]
        # short docs (< k tokens): must yield NO shingles and NO crash —
        # the naive sequence(1, n-k+1) form was sequence(1,0)=[1,0] and
        # element_at(toks, 0) threw INVALID_ARRAY_INDEX (ADVICE r6).
        docs[13] = [rng.choice(vocab)]
        docs[14] = [rng.choice(vocab), rng.choice(vocab)]
        docs[15] = []  # empty text
        df = spark.createDataFrame(
            [(did, " ".join(toks)) for did, toks in docs.items()],
            "doc_id long, text string",
        )

        def shingle_set(toks):
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            } if len(toks) >= 3 else set()

        exp = {}
        for a, b in itertools.combinations(sorted(docs), 2):
            sa, sb = shingle_set(docs[a]), shingle_set(docs[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                exp[(a, b)] = j
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_prefix_filter_pairs(
                df, "doc_id", "text", threshold=threshold
            ).collect()
        }
        assert set(got) == set(exp), (
            f"seed {seed} t={threshold}: extra={set(got) - set(exp)} "
            f"missing={set(exp) - set(got)}"
        )
        for pair, j in exp.items():
            assert abs(got[pair] - j) < 1e-12


def test_drop_duplicated_spans_rewrite_semantics(spark):
    """The span-drop rewrite deletes exactly the id_b positions of every
    span, unions overlapping spans, leaves id_a and untouched docs
    intact, and keeps empty-rewrite docs as rows (empty array, not a
    dropped row)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        drop_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # id_a everywhere: untouched
            (2, "a b c d e f g h"),   # two overlapping spans: union drop 1..6
            (3, "x y z"),             # untouched entirely
            (4, "p q r s"),           # whole doc dropped -> empty rewrite
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 2, 1, 1, 4),  # drop 2's tokens 1-4
            (1, 2, 3, 3, 4),  # drop 2's tokens 3-6 (overlaps)
            (1, 4, 1, 1, 4),  # drop 4's tokens 1-4 (all of them)
        ],
        "id_a long, id_b long, a_start long, b_start long, span_tokens long",
    )
    out = {r.doc_id: r for r in drop_duplicated_spans(docs, spans).collect()}
    assert out[1].rewritten == list("abcdefgh") and not out[1].affected
    assert out[2].rewritten == ["g", "h"] and out[2].affected
    assert (out[2].tokens_before, out[2].tokens_after) == (8, 2)
    assert out[3].rewritten == ["x", "y", "z"] and not out[3].affected
    assert out[4].rewritten == [] and out[4].tokens_after == 0 and out[4].affected


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _components(spark, pairs, **kw):
    """connected_components collected under a deadline, so an observed
    count that never arrives fails the test instead of hanging the suite."""
    import threading

    out = []
    t = threading.Thread(
        target=lambda: out.append(
            dict(connected_components(_edges(spark, pairs), **kw).collect())
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=180)
    assert out, "connected_components did not return"
    return out[0]


def test_connected_components_runs_one_action_per_round(spark):
    """A 5-node path converges in diameter + 1 = 5 rounds.  Each round is
    one Spark action — its checkpoint, which also counts the lowered
    labels — on top of the two setup checkpoints.  AQE submits every
    query stage of an action as its own job, so the budget counts the
    SQL executions (actions) the group's jobs belong to; a separate
    convergence probe would double the per-round count."""
    edges = _edges(spark, [(i, i + 1) for i in range(4)])
    sc = spark.sparkContext
    group = "connected-components-job-budget"
    sc.setJobGroup(group, "connected_components")
    try:
        labels = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(int(store.executionsCount()) - 64, 0), 64)
    actions = set()
    for i in range(recent.length()):
        ex = recent.apply(i)
        ex_jobs = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
        if ex_jobs & jobs:
            actions.add(ex.executionId())
    assert jobs and len(actions) <= 5 + 2, (len(actions), sorted(jobs))
    assert dict(labels.collect()) == {i: 0 for i in range(5)}


def test_connected_components_no_pairs_returns_empty(spark):
    assert _components(spark, []) == {}


def test_connected_components_self_loops_and_duplicate_edges(spark):
    pairs = [(3, 3), (1, 2), (1, 2), (2, 1), (5, 6), (6, 6), (6, 5)]
    assert _components(spark, pairs) == {1: 1, 2: 1, 3: 3, 5: 5, 6: 5}


def test_connected_components_raises_when_max_iter_runs_out(spark):
    """Labels still moving after max_iter rounds are not a fixpoint: the
    5-node path needs 5 rounds, so 5 converge and 4 raise."""
    path = [(i + 1, i) for i in range(4)]
    assert _components(spark, path, max_iter=5) == {i: 0 for i in range(5)}
    with pytest.raises(RuntimeError, match="max_iter=4"):
        connected_components(_edges(spark, path), max_iter=4)
