"""The three benchmark workloads.

Each workload is one closed loop with one client: an operation starts
when the previous one has finished.  A workload generates its inputs,
warms up on a small copy of them, runs a fixed amount of work (the timed
phase) and then checks the outputs of that work outside the timed phase.
Every call into a layer of the program is wrapped in a tracer span named
after the layer; the tracer is a no-op in untraced runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import gen
from spans import Tracer

from end_to_end_data_engineering_project_with_databricks_spark.functions.textfns import tokens
from end_to_end_data_engineering_project_with_databricks_spark.operators import dedup, similarity
from end_to_end_data_engineering_project_with_databricks_spark.pipeline import video_etl
from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
    all_specs,
    oracle_sql_map,
)
from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import load_table
from end_to_end_data_engineering_project_with_databricks_spark.sources.video_datasource import (
    SyntheticVideoSource,
)


@dataclass
class Op:
    """One operation of the closed loop: its kind, latency and outcome."""

    kind: str
    latency_s: float
    ok: bool = True


@dataclass
class TimedResult:
    ops: list[Op] = field(default_factory=list)
    #: workload-specific values read by the checks and the per-layer report
    state: dict = field(default_factory=dict)


def noop(df: DataFrame) -> None:
    """The final action: run the whole plan, keep no output."""
    df.write.format("noop").mode("overwrite").save()


def _observed(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` with an order-independent value hash and row count of its
    rows collected into ``obs`` by the same job that runs it."""
    return df.observe(
        obs,
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("hash"),
        F.count(F.lit(1)).alias("rows"),
    )


def _pass_latencies(ops: list[Op], per_pass: int) -> list[float]:
    """Latency of each complete pass of ``per_pass`` consecutive operations."""
    return [
        sum(op.latency_s for op in ops[i : i + per_pass])
        for i in range(0, len(ops) - per_pass + 1, per_pass)
    ]


def frame_hash(pdf) -> str:
    """Order-independent hash of a pandas frame's values."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(r)) for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([repr(cols), *rows]).encode()).hexdigest()


class _Collected:
    """Adapter that hands an already collected frame to
    ``tests.oracle.compare``, which only calls ``toPandas()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


def _oracle_problems(name: str, pdf, data_dir: str) -> list[str]:
    from tests.oracle import compare, duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        return [f"{name} vs DuckDB: {p}" for p in compare(_Collected(pdf), con, oracle_sql_map()[name])]
    finally:
        con.close()


# ---------------------------------------------------------------------------
# etl_ingest
# ---------------------------------------------------------------------------


class EtlIngest:
    """The reference's scheduled job: land a search payload as raw JSON,
    flatten it, anti-join append it to a Parquet sink that grows batch by
    batch.  A fixed share of each batch re-sees ``videoId``s."""

    name = "etl_ingest"
    items = 500
    overlap = 100
    warm_items = 50
    warm_batches = 4
    seconds_per_batch = 0.55

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.batches = max(21, round(seconds / self.seconds_per_batch))
        self.tables = 0  # sink tables created so far, across set-ups

    def input_rows(self) -> int:
        return self.batches * self.items

    def generate(self, root: str) -> None:
        source = SyntheticVideoSource(seed=self.seed, overlap=self.overlap)
        words = gen.etl_keywords(self.seed, self.batches + self.warm_batches)
        self.warm_payloads = [
            (kw, source.fetch(kw, self.warm_items)) for kw in words[self.batches :]
        ]
        self.payloads = [(kw, source.fetch(kw, self.items)) for kw in words[: self.batches]]
        self.raw_dir = os.path.join(root, "raw")

    def _batch(self, spark, tr: Tracer, table: str, b: int, kw: str, payload: dict) -> int:
        with tr.span("pipeline.land"):
            path = video_etl.load_raw(payload, f"batch_{self.tables}_{b}", self.raw_dir)
        with tr.span("pipeline.transform", "build"):
            df = video_etl.transform(spark, kw, path)
        with tr.span("pipeline.load"):
            return video_etl.load_into_table(spark, df, table=table)

    def _new_table(self) -> str:
        self.tables += 1
        return f"perfbench.video_results_{self.tables}"

    def warm(self, spark: SparkSession) -> None:
        table = self._new_table()
        tr = Tracer(False)
        for b, (kw, payload) in enumerate(self.warm_payloads):
            self._batch(spark, tr, table, b, kw, payload)

    def timed(self, spark: SparkSession, tr: Tracer, res: TimedResult) -> None:
        table = self._new_table()
        res.state.update(table=table, appended=[])
        for b, (kw, payload) in enumerate(self.payloads):
            t0 = time.perf_counter()
            with tr.span("etl.batch", "group"):
                n = self._batch(spark, tr, table, b, kw, payload)
            res.ops.append(Op("batch", time.perf_counter() - t0))
            res.state["appended"].append(n)

    def batch_latencies(self, res: TimedResult) -> list[float]:
        return [op.latency_s for op in res.ops]

    def expected_appended(self) -> list[int]:
        return [self.items] + [self.items - self.overlap] * (self.batches - 1)

    def check(self, spark: SparkSession, res: TimedResult) -> list[str]:
        problems = []
        want = self.expected_appended()
        for op, got, exp in zip(res.ops, res.state["appended"], want):
            if got != exp:
                op.ok = False
                problems.append(f"batch appended {got} rows, expected {exp}")
        sink = spark.table(res.state["table"])
        rows, distinct = sink.count(), sink.select("videoId").distinct().count()
        if rows != sum(want) or distinct != sum(want):
            for op in res.ops:
                op.ok = False
            problems.append(f"sink has {rows} rows / {distinct} videoIds, expected {sum(want)}")
        return problems

    def layer_values(self, spark: SparkSession, res: TimedResult) -> dict:
        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {res.state['table']}").filter(
            "col_name = 'Location'"
        ).collect()[0]["data_type"]
        path = loc.removeprefix("file:")
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        return {
            "sources.sink_files": len(files),
            "sources.sink_mb": sum(os.path.getsize(f) for f in files) / 2**20,
            "pipeline.append_ratio": sum(res.state["appended"]) / self.input_rows(),
        }


# ---------------------------------------------------------------------------
# sql_analytics
# ---------------------------------------------------------------------------

#: Relational and events headline queries, run in this interleaved order,
#: with the fixture tables each one scans.
SQL_QUERIES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_revenue_by_nation": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q6_forecast_revenue": ("lineitem",),
    "q10_returned_items": ("customer", "orders", "lineitem", "nation"),
    "events_tumbling_counts": ("events",),
    "events_sessionize": ("events",),
}


class SqlAnalytics:
    """Read-only analytics: the registry's relational and events headline
    queries, each built by its registry function and run to the noop sink."""

    name = "sql_analytics"
    sizes = gen.Sizes(lineitem=600_000, events=100_000)
    warm_sizes = gen.Sizes(lineitem=30_000, events=5_000)
    seconds_per_pass = 14.0

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.passes = max(1, round(seconds / self.seconds_per_pass))
        self.specs = {n: all_specs()[n] for n in SQL_QUERIES}

    def _table_rows(self, name: str) -> int:
        s = self.sizes
        return {
            "region": 5, "nation": 25, "customer": s.customer, "supplier": s.supplier,
            "orders": s.orders, "lineitem": s.lineitem, "events": s.events,
        }[name]

    def input_rows(self) -> int:
        per_pass = sum(self._table_rows(t) for ts in SQL_QUERIES.values() for t in ts)
        return self.passes * per_pass

    def generate(self, root: str) -> None:
        self.data = os.path.join(root, "tables")
        self.warm_data = os.path.join(root, "warm_tables")
        gen.write_tables(self.seed, self.sizes, self.data)
        gen.write_tables(self.seed, self.warm_sizes, self.warm_data)

    def _query(self, spark, tr: Tracer, name: str, data: str) -> dict:
        """Build the query, run it to the noop sink, and return the value
        hash observed on its output rows during that same execution."""
        with tr.span(f"queries.{name}.build", "build"):
            df = self.specs[name].fn(spark, data)
        obs = Observation(name)
        with tr.span(f"queries.{name}.run"):
            noop(_observed(df, obs))
        return obs.get

    def warm(self, spark: SparkSession) -> None:
        tr = Tracer(False)
        for name in SQL_QUERIES:
            self._query(spark, tr, name, self.warm_data)

    def timed(self, spark: SparkSession, tr: Tracer, res: TimedResult) -> None:
        hashes = res.state.setdefault("hashes", {})
        for _ in range(self.passes):
            for name in SQL_QUERIES:
                t0 = time.perf_counter()
                with tr.span(f"queries.{name}", "group"):
                    observed = self._query(spark, tr, name, self.data)
                res.ops.append(Op(name, time.perf_counter() - t0))
                hashes.setdefault(name, []).append(observed)

    def batch_latencies(self, res: TimedResult) -> list[float]:
        """A batch is one interleaved pass over the seven queries."""
        return _pass_latencies(res.ops, len(SQL_QUERIES))

    def check(self, spark: SparkSession, res: TimedResult) -> list[str]:
        """One more execution of each query is collected.  Its observed value
        hash must equal the one of every timed pass, and its rows must
        match DuckDB."""
        problems = []
        for name, spec in self.specs.items():
            obs = Observation(name)
            pdf = _observed(spec.fn(spark, self.data), obs).toPandas()
            seen = res.state["hashes"][name]
            bad = [] if all(h == obs.get for h in seen) else [f"{name}: value hash differs between passes"]
            if obs.get["rows"] != len(pdf):
                bad.append(f"{name}: {obs.get['rows']} rows observed, {len(pdf)} collected")
            bad += _oracle_problems(name, pdf, self.data)
            if bad:
                problems += bad
                for op in res.ops:
                    if op.kind == name:
                        op.ok = False
        return problems

    def layer_values(self, spark: SparkSession, res: TimedResult) -> dict:
        return {}


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------


def _curation_filter(docs: DataFrame) -> DataFrame:
    """The quality gate of ``pipeline_corpus_curation``."""
    return docs.filter(
        F.col("lang").isin("en", "de", "fr")
        & F.col("n_chars").between(50, 10000)
        & (F.size(tokens("text")) >= 5)
    )


def _components(pairs) -> dict[int, int]:
    """Reference union-find: node -> smallest node id in its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class LlmCuration:
    """Training-data curation over a seeded corpus with planted exact and
    near duplicates and clustered embeddings: quality filter -> exact
    dedup -> MinHash-LSH dedup -> semantic dedup and k-NN graph, composed
    from the public operator functions."""

    name = "llm_curation"
    STEPS = (
        "operators.dedup.exact", "operators.dedup.signatures", "operators.dedup.candidates",
        "operators.dedup.verify", "operators.dedup.cluster", "operators.similarity.kmeans",
        "operators.similarity.assign", "operators.similarity.cell_score", "operators.similarity.knn",
    )
    sizes = gen.Sizes(documents=6_000, embeddings=2_000)
    warm_sizes = gen.Sizes(documents=300, embeddings=150)
    seconds_per_pass = 14.0

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.passes = max(1, round(seconds / self.seconds_per_pass))

    def input_rows(self) -> int:
        return self.passes * (self.sizes.documents + self.sizes.embeddings)

    def generate(self, root: str) -> None:
        self.root = root
        self.data = os.path.join(root, "tables")
        self.warm_data = os.path.join(root, "warm_tables")
        gen.write_tables(self.seed, self.sizes, self.data)
        gen.write_tables(self.seed, self.warm_sizes, self.warm_data)

    def _step(self, tr: Tracer, ops: list[Op], layer: str, build, run=None):
        """One curation step: ``build()`` calls the layer, ``run(out)`` is
        the final action and returns the value the next step uses."""
        t0 = time.perf_counter()
        with tr.span(layer, "group"):
            with tr.span(f"{layer}.build", "build"):
                out = build()
            if run is not None:
                with tr.span(f"{layer}.run"):
                    out = run(out)
        ops.append(Op(layer, time.perf_counter() - t0))
        return out

    def _pass(self, spark, tr: Tracer, data: str, ops: list[Op]) -> dict:
        docs = load_table(spark, data, "documents")
        emb = load_table(spark, data, "embeddings")
        checkpoint = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

        def exact():
            kept = _curation_filter(docs)
            groups = dedup.exact_dedup(kept, ["text", "lang"], "doc_id")
            canon = groups.select(F.col("canonical_id").alias("doc_id"))
            return groups, kept.join(canon, "doc_id", "left_semi")

        groups, survivors = self._step(
            tr, ops, "operators.dedup.exact", exact, lambda o: (o[0], checkpoint(o[1]))
        )
        sigs = self._step(
            tr, ops, "operators.dedup.signatures",
            lambda: dedup.minhash_signatures(survivors, "doc_id", "text", 64, 3), checkpoint,
        )
        cands = self._step(
            tr, ops, "operators.dedup.candidates",
            lambda: dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4), checkpoint,
        )
        verified = self._step(
            tr, ops, "operators.dedup.verify",
            lambda: dedup.jaccard_verify(cands, survivors, "doc_id", "text", 3, 0.5), checkpoint,
        )
        comps = self._step(
            tr, ops, "operators.dedup.cluster",
            lambda: dedup.connected_components(verified),
        )
        cents = self._step(
            tr, ops, "operators.similarity.kmeans",
            lambda: similarity.lloyd_kmeans_fixed(emb, n_cells=16, iters=2, sample_bound=256),
        )
        assigned = self._step(
            tr, ops, "operators.similarity.assign",
            lambda: similarity.ivf_assign(emb, cents), checkpoint,
        )
        pairs = self._step(
            tr, ops, "operators.similarity.cell_score",
            lambda: similarity.threshold_pairs_within_cells(assigned, threshold=0.35), checkpoint,
        )
        knn = self._step(
            tr, ops, "operators.similarity.knn",
            lambda: similarity.knn_graph_within_cells(assigned, k=3), checkpoint,
        )
        return dict(
            groups=groups, survivors=survivors, cands=cands, verified=verified,
            comps=comps, assigned=assigned, pairs=pairs, knn=knn,
        )

    def warm(self, spark: SparkSession) -> None:
        self._pass(spark, Tracer(False), self.warm_data, [])

    def timed(self, spark: SparkSession, tr: Tracer, res: TimedResult) -> None:
        for _ in range(self.passes):
            res.state["last"] = self._pass(spark, tr, self.data, res.ops)

    def batch_latencies(self, res: TimedResult) -> list[float]:
        """A batch is one pass over the corpus: all nine steps."""
        return _pass_latencies(res.ops, len(self.STEPS))

    def _outputs(self, out: dict) -> dict:
        """The collected outputs of one pass, named by step."""
        return {
            "operators.dedup.exact": out["groups"].toPandas(),
            "operators.dedup.verify": out["verified"].toPandas(),
            "operators.dedup.cluster": out["comps"].toPandas(),
            "operators.similarity.cell_score": out["pairs"].toPandas(),
            "operators.similarity.knn": out["knn"].toPandas(),
        }

    def check(self, spark: SparkSession, res: TimedResult) -> list[str]:
        out = res.state["last"]
        got = self._outputs(out)
        cell_sizes = out["assigned"].groupBy("cell_id").count().collect()
        res.state["counts"] = {
            "candidates": out["cands"].count(),
            "verified": len(got["operators.dedup.verify"]),
            "scored": sum(r["count"] * (r["count"] - 1) // 2 for r in cell_sizes),
        }
        bad = self._registry_problems(spark, out, got)
        # the k-NN graph has no registry twin: run it again on the same cells
        again = similarity.knn_graph_within_cells(out["assigned"], k=3).toPandas()
        if frame_hash(again) != frame_hash(got["operators.similarity.knn"]):
            bad.setdefault("operators.similarity.knn", []).append("k-NN graph differs between passes")
        for op in res.ops:
            op.ok = op.kind not in bad
        return [p for ps in bad.values() for p in ps]

    def _registry_problems(self, spark, out: dict, got: dict) -> dict[str, list[str]]:
        """Each composed step against the registry query that computes the
        same thing on the same input (a second execution, so this also
        checks that values repeat).  Only pipeline_corpus_curation is also
        replayed in DuckDB: the MinHash and Lloyd k-means replays take
        seconds each, and the registry queries are oracle-checked by the
        test suite."""
        bad: dict[str, list[str]] = {}

        def differ(step: str, name: str, mine, data: str, cols=None, oracle=True) -> None:
            ref = all_specs()[name].fn(spark, data).toPandas()
            problems = _oracle_problems(name, ref, data) if oracle else []
            if frame_hash(mine) != frame_hash(ref[cols] if cols else ref):
                problems.append(f"{step} differs from registry {name}")
            if problems:
                bad.setdefault(step, []).extend(problems)

        # filter + exact dedup vs pipeline_corpus_curation's per-language counts
        g = got["operators.dedup.exact"].groupby("lang", as_index=False)
        mine = g.agg(n_docs=("text", "size"), n_members=("n_members", "sum"))
        mine["n_dups_removed"] = mine.n_members - mine.n_docs
        cols = ["lang", "n_docs", "n_dups_removed"]
        differ("operators.dedup.exact", "pipeline_corpus_curation", mine[cols], self.data, cols)
        # MinHash-LSH steps vs dedup_minhash_lsh with the survivors as its corpus
        check_dir = os.path.join(self.root, "survivors")
        shutil.copytree(self.data, check_dir, dirs_exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(out["survivors"].toPandas(), preserve_index=False),
            os.path.join(check_dir, "documents.parquet"),
        )
        differ(
            "operators.dedup.verify", "dedup_minhash_lsh", got["operators.dedup.verify"], check_dir,
            oracle=False,
        )
        # connected components vs a union-find over the verified pairs
        v = got["operators.dedup.verify"]
        c = got["operators.dedup.cluster"]
        if dict(zip(c.node, c.component)) != _components(zip(v.id_a, v.id_b)):
            bad.setdefault("operators.dedup.cluster", []).append(
                "connected components differ from union-find"
            )
        # semantic dedup vs dedup_semdedup_clustered on the same embeddings
        mine = got["operators.similarity.cell_score"].assign(dropped_id=lambda d: d.id_b)
        differ(
            "operators.similarity.cell_score", "dedup_semdedup_clustered", mine, self.data, oracle=False
        )
        return bad

    def layer_values(self, spark: SparkSession, res: TimedResult) -> dict:
        n = res.state["counts"]
        return {
            "operators.dedup.candidate_pairs": n["candidates"],
            "operators.dedup.verified_ratio": n["verified"] / max(n["candidates"], 1),
            "operators.similarity.pairs_scored": n["scored"],
        }


WORKLOADS = {w.name: w for w in (EtlIngest, SqlAnalytics, LlmCuration)}
