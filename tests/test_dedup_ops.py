"""Property tests for the dedup operators (no SQL oracle): MinHash-LSH
must find planted near-duplicates; SimHash must find planted
small-perturbation duplicates; neither may report a pair the exact metric
rejects (verification step guarantees precision by construction).  The
exact n-gram overlap emitters are pinned to a pure-Python set reference,
and the containment family (exact, banded, LSH Ensemble) is checked
against the exact operator.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.operators import dedup as dedup_ops
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
    """connected_components collected under a deadline, so a loop that
    never finishes fails the test instead of hanging the suite."""
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
    """The budget of the former round-only loop on a 5-node path —
    diameter + 1 = 5 round actions plus two setup checkpoints — still
    holds; with the driver finish the path takes no round at all (the
    edge checkpoint and the bounded collect).  AQE submits every query
    stage of an action as its own job, so the budget counts the SQL
    executions (actions) the group's jobs belong to."""
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


def test_connected_components_raises_when_max_iter_runs_out(spark, monkeypatch):
    """With the driver bound forced to 0 only an empty quotient finishes:
    the 5-node path's quotient empties after 4 min-label rounds, so 4
    converge and 3 raise."""
    monkeypatch.setattr(dedup_ops, "CC_DRIVER_BOUND", 0)
    path = [(i + 1, i) for i in range(4)]
    assert _components(spark, path, max_iter=4) == {i: 0 for i in range(5)}
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(_edges(spark, path), max_iter=3)


#: Hand graphs with the labels the round-only implementation returned.
_CC_GRAPHS = {
    "path": ([(i, i + 1) for i in range(5)], {i: 0 for i in range(6)}),
    "star": ([(4, 9), (4, 2), (7, 4), (4, 6)], {2: 2, 4: 2, 6: 2, 7: 2, 9: 2}),
    "two_components": (
        [(1, 2), (2, 3), (10, 11), (12, 11)],
        {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10},
    ),
    "duplicate_edges": ([(1, 2), (1, 2), (2, 1), (3, 2), (3, 2)], {1: 1, 2: 1, 3: 1}),
    "self_loops": ([(3, 3), (1, 2), (6, 6), (6, 5)], {1: 1, 2: 1, 3: 3, 5: 5, 6: 5}),
    "empty": ([], {}),
}


def _min_reachable(pairs):
    """Pure-Python reference: each node's smallest reachable node id."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        seen, todo = {start}, [start]
        while todo:
            for n in adj[todo.pop()] - seen:
                seen.add(n)
                todo.append(n)
        out[start] = min(seen)
    return out


@pytest.mark.parametrize("bound", ["default", 0])
@pytest.mark.parametrize("graph", list(_CC_GRAPHS))
def test_connected_components_hand_graphs(spark, monkeypatch, graph, bound):
    """The driver finish (default bound: zero rounds) and the round path
    (bound 0: rounds until the quotient is empty) both give the
    reference labels and the labels of the round-only implementation."""
    if bound != "default":
        monkeypatch.setattr(dedup_ops, "CC_DRIVER_BOUND", bound)
    pairs, today = _CC_GRAPHS[graph]
    assert _components(spark, pairs) == _min_reachable(pairs) == today


def test_connected_components_small_graph_takes_no_round(spark):
    """A graph whose quotient fits the bound builds with two jobs: the
    edge checkpoint and the bounded collect; the result is lazy."""
    edges = _edges(spark, [(i, i + 1) for i in range(9)] + [(20, 21)])
    sc = spark.sparkContext
    group = "connected-components-driver-finish"
    sc.setJobGroup(group, "connected_components")
    try:
        labels = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert "LocalTableScan" in labels._jdf.queryExecution().executedPlan().toString()
    assert dict(labels.collect()) == {**{i: 0 for i in range(10)}, 20: 20, 21: 20}


# ---------------------------------------------------------------------------
# Exact n-gram overlap emitters (ngram_jaccard_pairs /
# ngram_containment_pairs) against a pure-Python set reference.
# ---------------------------------------------------------------------------

_OVERLAP_DOCS = [
    (1, "a b c d e f"),  # 4 shingles; contains doc 2
    (2, "a b c d"),  # 2 shingles, both in doc 1
    (3, "x y z x y z x y z"),  # 7 positions, 3 distinct shingles
    (4, "x y z q"),  # shares "x y z" with doc 3
    (5, "p q"),  # fewer than 3 tokens: no shingles
    (6, None),  # NULL text
    (7, "m n o p"),  # zero overlap with every other doc
    (8, "a b"),  # shares tokens but no shingle with docs 1/2
]


def _shingle_set(text):
    toks = text.split(" ") if text is not None else []
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _overlap_reference():
    sets = {i: _shingle_set(t) for i, t in _OVERLAP_DOCS}
    jac, cont = {}, {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            inter = len(sa & sb)
            if a == b or not inter:
                continue
            cont[(a, b)] = inter / len(sa)
            if a < b:
                jac[(a, b)] = inter / len(sa | sb)
    return jac, cont


def test_ngram_pairs_match_set_reference(spark):
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(_OVERLAP_DOCS, "doc_id long, text string")
    jac_ref, cont_ref = _overlap_reference()
    # threshold 0: every emitted row is a real overlap, none is a 0.0 row
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.0).collect()
    }
    cont = {
        (r.id_small, r.id_big): r.containment
        for r in ngram_containment_pairs(df, "doc_id", "text", 3, 0.0).collect()
    }
    assert jac == jac_ref and cont == cont_ref
    # repeated shingles count once: |{xyz, yzx, zxy} ∩ {xyz, yzq}| = 1
    assert jac[(3, 4)] == 1 / 4 and cont[(4, 3)] == 1 / 2
    # a contained doc: 1.0 one way, < 1 the other
    assert cont[(2, 1)] == 1.0 and cont[(1, 2)] == 0.5
    # short / NULL / zero-overlap docs never appear
    ids = {i for pair in list(jac) + list(cont) for i in pair}
    assert ids == {1, 2, 3, 4}
    # the threshold keeps >= and drops the rest
    assert {
        (r.id_small, r.id_big)
        for r in ngram_containment_pairs(df, "doc_id", "text", 3, 0.5).collect()
    } == {(2, 1), (1, 2), (4, 3)}


def test_ngram_pairs_empty_frame_is_well_formed(spark):
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame([], "doc_id long, text string")
    jac = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5)
    cont = ngram_containment_pairs(df, "doc_id", "text", 3, 0.8)
    assert jac.schema.simpleString() == (
        "struct<id_a:bigint,id_b:bigint,jaccard:double>"
    )
    assert cont.schema.simpleString() == (
        "struct<id_small:bigint,id_big:bigint,containment:double>"
    )
    assert jac.collect() == [] and cont.collect() == []


# ---------------------------------------------------------------------------
# Containment search: the exact operator, plain banding and the
# size-stratified LSH Ensemble, plus the corpus-derived ensemble strata.
# ---------------------------------------------------------------------------


def test_strata_split_points_exact_tertiles(spark) -> None:
    """Equi-depth split points on a hand-computable histogram: sizes
    [2 x4, 5 x3, 9 x5] (N=12) -> cdf(2)=4 (x3=12 >= 12 -> split_lo=2),
    cdf(5)=7 (x3=21 < 24), cdf(9)=12 (x3=36 >= 24 -> split_hi=9)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        strata_split_points,
    )

    sizes = [2] * 4 + [5] * 3 + [9] * 5
    df = spark.createDataFrame([(s,) for s in sizes], "n long")
    row = strata_split_points(df).collect()[0]
    assert (row.n_sized, row.split_lo, row.split_hi) == (12, 2, 9)


def test_strata_split_points_empty_input_yields_nulls(spark) -> None:
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        strata_split_points,
    )

    df = spark.createDataFrame([], "n long")
    row = strata_split_points(df).collect()[0]
    assert row.n_sized is None and row.split_lo is None and row.split_hi is None


def test_auto_ensemble_strata_ladder_shape() -> None:
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        auto_ensemble_strata,
        ensemble_schemes,
    )

    assert ensemble_schemes(64) == ((16, 4), (32, 2), (64, 1))
    assert auto_ensemble_strata(37, 67, 64) == (
        (0, 37, 16, 4),
        (37, 67, 32, 2),
        (67, None, 64, 1),
    )
    # degenerate (uniform corpus): middle stratum collapses to empty
    strata = auto_ensemble_strata(10, 10, 64)
    assert strata[1] == (10, 10, 32, 2)
    import pytest

    with pytest.raises(ValueError):
        ensemble_schemes(6)


def test_ensemble_default_path_is_derived_strata(spark, sf_dir) -> None:
    """containment_lsh_ensemble_pairs with strata=None (the default)
    must equal the explicit auto_ensemble_strata call at the derived
    fixture bounds, and an explicit override must still be honored
    (fixed-strata override kept, VERDICT r12 item 3)."""
    import os

    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        ENSEMBLE_STRATA,
        auto_ensemble_strata,
        containment_lsh_ensemble_pairs,
        shingles,
        strata_split_points,
    )

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counts = d.select(F.size(shingles("text", 3)).alias("n")).filter(
        F.col("n") >= 1
    )
    row = strata_split_points(counts).collect()[0]
    derived = auto_ensemble_strata(row.split_lo, row.split_hi, 64)

    def pairset(**kw):
        return {
            (r.id_small, r.id_big, round(r.containment, 9))
            for r in containment_lsh_ensemble_pairs(
                d, "doc_id", "text", **kw
            ).collect()
        }

    default = pairset()
    explicit = pairset(strata=derived)
    assert default == explicit and default
    # the override path must produce the FIXTURE-literal behavior, which
    # differs from the derived bounds whenever the tertiles move (they
    # do on this corpus: derived != (32, 64) literals) — equality here
    # would mean the override is ignored
    assert derived != ENSEMBLE_STRATA
    overridden = pairset(strata=ENSEMBLE_STRATA)
    assert overridden == pairset(strata=ENSEMBLE_STRATA)  # deterministic


def test_ensemble_uniform_corpus_degenerates_cleanly(spark) -> None:
    """A size-homogeneous corpus collapses the tertiles (split_lo ==
    split_hi): strata 0/1 index nothing, stratum 2 indexes everything
    under 64x1 — the operator must still verify exactly and find the
    planted duplicate."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
    )

    text = " ".join(f"tok{i}" for i in range(20))
    docs = [(1, text), (2, text)] + [
        (10 + j, " ".join(f"d{j}w{i}" for i in range(20))) for j in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_small, r.id_big)
        for r in containment_lsh_ensemble_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got and (2, 1) in got
    assert all(a in (1, 2) and b in (1, 2) for a, b in got)


def test_containment_lsh_recall_vs_exact(spark, sf_dir) -> None:
    """The banded containment path must agree with the exact operator
    where both run (the doc_id < 600 slice the exact query bounds
    itself to): every banded pair is a true containment pair (the
    verify is exact, so precision is 1 by construction — asserted
    anyway), and recall on the fixtures is high because their
    containment pairs are near-duplicates (high Jaccard).  The recall
    floor is the documented trade: extreme-size-ratio quotes can be
    missed by Jaccard-calibrated banding."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        all_specs,
    )

    specs = all_specs()
    exact = {
        (r.id_small, r.id_big)
        for r in specs["dedup_containment"].fn(spark, sf_dir).collect()
    }
    banded_df = specs["dedup_containment_lsh"].fn(spark, sf_dir)
    banded_sub = {
        (r.id_small, r.id_big)
        for r in banded_df.filter(
            (F.col("id_small") < 600) & (F.col("id_big") < 600)
        ).collect()
    }
    # exactness of the verify: no banded pair outside the exact answer
    assert banded_sub <= exact, banded_sub - exact
    if exact:
        recall = len(banded_sub) / len(exact)
        assert recall >= 0.9, (recall, len(banded_sub), len(exact))


def test_containment_ensemble_recalls_extreme_size_ratio(spark) -> None:
    """The pair class that motivates LSH Ensemble: a 12-token document
    quoted verbatim inside an ~90-token one has containment 1.0 but
    Jaccard ~0.12 — the global 16x4 banding's candidate probability
    there is ~16 * 0.12^4 ~ 0.003 (and deterministically zero on this
    corpus), while the large stratum's 64x1 scheme fires with
    probability ~1 - 0.88^64 ~ 1.  Plain LSH must MISS the planted
    pair; the ensemble must find it with containment exactly 1.0."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
        containment_lsh_pairs,
    )

    small = " ".join(f"tok{i}" for i in range(12))
    big = small + " " + " ".join(f"filler{i}" for i in range(80))
    decoys = [
        (100 + j, " ".join(f"d{j}w{i}" for i in range(20))) for j in range(6)
    ]
    df = spark.createDataFrame(
        [(1, small), (2, big)] + decoys, "doc_id long, text string"
    )
    plain = {
        (r.id_small, r.id_big)
        for r in containment_lsh_pairs(df, "doc_id", "text").collect()
    }
    ens = {
        (r.id_small, r.id_big, r.containment)
        for r in containment_lsh_ensemble_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) not in plain  # the documented global-banding miss
    assert (1, 2, 1.0) in ens


def test_containment_ensemble_dominates_plain_on_fixtures(spark, sf_dir) -> None:
    """On the registry corpus the ensemble must be exact-verified
    (subset of the exact answer) and recall at least what the plain
    banding recalls — strictly more whenever a low-Jaccard containment
    pair exists."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        all_specs,
    )

    specs = all_specs()
    exact = {
        (r.id_small, r.id_big)
        for r in specs["dedup_containment"].fn(spark, sf_dir).collect()
    }
    sub = (F.col("id_small") < 600) & (F.col("id_big") < 600)
    plain = {
        (r.id_small, r.id_big)
        for r in specs["dedup_containment_lsh"].fn(spark, sf_dir).filter(sub).collect()
    }
    ens = {
        (r.id_small, r.id_big)
        for r in specs["dedup_containment_ensemble"]
        .fn(spark, sf_dir)
        .filter(sub)
        .collect()
    }
    assert ens <= exact, ens - exact
    assert len(ens & exact) >= len(plain & exact)
