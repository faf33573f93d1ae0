"""Pipeline-parity tests (SURVEY.md §5 strategy #3): the exact semantics of
the reference's load stage (ETL_pipeline_countries.py:129-138):

(a) first load appends all rows (no dedup on the empty-table branch);
(b) identical re-run appends zero;
(c) overlapping batch appends only unseen videoIds;
(d) intra-batch duplicates survive (reference has no dropDuplicates);
(e) a re-seen videoId under a different keyword is dropped, not updated
    (latest-keyword-loses).

Plus the load stage's cost contract: one observed write job per batch,
no cached relation left behind.
"""

from __future__ import annotations

import itertools
import threading

import pytest
from pyspark.sql.types import TimestampType

from end_to_end_data_engineering_project_with_databricks_spark.pipeline.video_etl import (
    RESULT_COLUMNS,
    SyntheticVideoSource,
    ensure_sink,
    load_into_table,
    load_raw,
    run_pipeline,
    transform,
)

_counter = itertools.count()


@pytest.fixture()
def sink_table(spark):
    name = f"delta_tables.video_results_t{next(_counter)}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_first_load_appends_all_then_rerun_appends_zero(spark, tmp_path, sink_table):
    src = SyntheticVideoSource(seed=1)
    n1 = run_pipeline(spark, src, str(tmp_path), keyword="Alpha", max_results=20, table=sink_table)
    assert n1 == 20
    assert spark.table(sink_table).count() == 20

    n2 = run_pipeline(spark, src, str(tmp_path), keyword="Alpha", max_results=20, table=sink_table)
    assert n2 == 0
    assert spark.table(sink_table).count() == 20


def test_overlapping_batch_appends_only_new(spark, tmp_path, sink_table):
    src = SyntheticVideoSource(seed=2, overlap=5)
    n1 = run_pipeline(spark, src, str(tmp_path), keyword="Alpha", max_results=20, table=sink_table)
    assert n1 == 20
    n2 = run_pipeline(spark, src, str(tmp_path), keyword="Beta", max_results=20, table=sink_table)
    assert n2 == 15  # the 5 shared videoIds are anti-joined away

    # latest-keyword-loses: shared ids keep the FIRST keyword (no upsert)
    shared = (
        spark.table(sink_table)
        .filter("videoId LIKE 'vid-shared-%'")
        .select("keyword")
        .distinct()
        .collect()
    )
    assert [r.keyword for r in shared] == ["Alpha"]


def test_intra_batch_duplicates_survive(spark, tmp_path, sink_table):
    payload = SyntheticVideoSource(seed=3).fetch("Gamma", 4)
    payload["items"].append(payload["items"][0])  # duplicate videoId in-batch
    path = load_raw(payload, "dup_batch", str(tmp_path))
    df = transform(spark, "Gamma", path)
    n = load_into_table(spark, df, table=sink_table)
    assert n == 5  # reference semantics: intra-batch dup kept on first load
    assert spark.table(sink_table).count() == 5


def test_dedup_within_batch_extension(spark, tmp_path, sink_table):
    payload = SyntheticVideoSource(seed=4).fetch("Delta", 4)
    payload["items"].append(payload["items"][0])
    path = load_raw(payload, "dup_batch2", str(tmp_path))
    df = transform(spark, "Delta", path)
    n = load_into_table(spark, df, table=sink_table, dedup_within_batch=True)
    assert n == 4  # extension removes the intra-batch duplicate


def test_transform_schema_and_values(spark, tmp_path):
    payload = SyntheticVideoSource(seed=5).fetch("Echo", 3)
    path = load_raw(payload, "schema_check", str(tmp_path))
    df = transform(spark, "Echo", path)
    assert tuple(df.columns) == RESULT_COLUMNS
    assert isinstance(df.schema["publishedAt"].dataType, TimestampType)
    rows = df.orderBy("videoId").collect()
    assert len(rows) == 3
    assert rows[0].keyword == "Echo"
    assert rows[0].videoId == "vid-Echo-5-0000"
    assert rows[0].publishedAt.isoformat() == "2024-05-01T12:34:56"


_ROW_SCHEMA = (
    "keyword STRING, etag STRING, nextPageToken STRING, videoId STRING, "
    "title STRING, description STRING, channelTitle STRING, publishedAt TIMESTAMP"
)


def _rows(spark, ids, keyword="Kilo"):
    return spark.createDataFrame(
        [(keyword, "etag", None, i, f"title-{i}", "desc", "chan", None) for i in ids],
        _ROW_SCHEMA,
    )


def _load(spark, df, **kw):
    """load_into_table with a deadline, so a count that never arrives
    fails the test instead of hanging the suite."""
    out = []
    t = threading.Thread(target=lambda: out.append(load_into_table(spark, df, **kw)), daemon=True)
    t.start()
    t.join(timeout=180)
    assert out, "load_into_table did not return"
    return out[0]


def _sink_ids(spark, table):
    return sorted((r.videoId for r in spark.table(table).collect()), key=str)


def test_load_is_one_write_job_and_leaves_no_cache(spark, sink_table):
    """On a non-empty sink the load launches only the sink-id broadcast
    and the observed write, and leaves nothing cached."""
    assert load_into_table(spark, _rows(spark, ["a", "b"]), table=sink_table) == 2
    batch = _rows(spark, ["b", "c", "d"])
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.numCachedEntries()
    group = "load-into-table-job-budget"
    sc.setJobGroup(group, "load_into_table")
    try:
        n = load_into_table(spark, batch, table=sink_table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert n == 2
    assert 1 <= len(jobs) <= 2, jobs
    assert cache.numCachedEntries() == cached_before
    assert _sink_ids(spark, sink_table) == ["a", "b", "c", "d"]


def test_zero_row_batches_append_zero(spark, sink_table):
    empty = _rows(spark, ["x"]).where("1=0")
    assert _load(spark, empty, table=sink_table) == 0  # empty sink
    assert _load(spark, _rows(spark, ["a", "b"]), table=sink_table) == 2
    assert _load(spark, empty, table=sink_table) == 0  # non-empty sink
    assert _load(spark, _rows(spark, ["b", "a", "a"]), table=sink_table) == 0
    assert _sink_ids(spark, sink_table) == ["a", "b"]


def test_null_video_id_is_appended_on_non_empty_sink(spark, sink_table):
    """LEFT ANTI keeps a NULL key (NOT EXISTS, not NOT IN semantics), on
    every load — a NULL id is never deduplicated."""
    assert load_into_table(spark, _rows(spark, ["a", None]), table=sink_table) == 2
    assert load_into_table(spark, _rows(spark, ["a", None, "b"]), table=sink_table) == 2
    assert _sink_ids(spark, sink_table) == [None, None, "a", "b"]


def test_dedup_within_batch_count_matches_rows_added(spark, sink_table):
    assert load_into_table(spark, _rows(spark, ["a", "b"]), table=sink_table) == 2
    before = spark.table(sink_table).count()
    n = load_into_table(
        spark, _rows(spark, ["b", "c", "c", "d", "d", "d"]), table=sink_table, dedup_within_batch=True
    )
    assert n == 2
    assert spark.table(sink_table).count() - before == n
    assert _sink_ids(spark, sink_table) == ["a", "b", "c", "d"]


def test_dedup_scope_anti_joins_only_the_slice(spark, sink_table):
    """dedup_scope is a slice of the sink: an id inside it is dropped, an
    id outside it is appended again (the O(recent) trade-off)."""
    assert load_into_table(spark, _rows(spark, ["a"], keyword="Old"), table=sink_table) == 1
    assert load_into_table(spark, _rows(spark, ["b"], keyword="New"), table=sink_table) == 1
    recent = spark.table(sink_table).where("keyword = 'New'")
    n = load_into_table(spark, _rows(spark, ["a", "b", "c"]), table=sink_table, dedup_scope=recent)
    assert n == 2
    assert _sink_ids(spark, sink_table) == ["a", "a", "b", "c"]


def test_dedup_scope_on_empty_sink_appends_everything(spark, sink_table):
    """A slice of an empty sink is empty, so the first load appends the
    whole batch, intra-batch duplicates included, as without a scope."""
    ensure_sink(spark, sink_table)
    recent = spark.table(sink_table).where("keyword = 'New'")
    n = load_into_table(spark, _rows(spark, ["a", "a", "b"]), table=sink_table, dedup_scope=recent)
    assert n == 3
    assert _sink_ids(spark, sink_table) == ["a", "a", "b"]
