"""Reference-parity ETL pipeline: Extract -> Land raw -> Transform -> Load.

Re-expresses the reference's 4-stage notebook pipeline
(ETL_pipeline_countries.py:144-147) as a library with explicit ``spark``
parameters and a pluggable source:

| stage     | reference                                      | here                     |
|-----------|------------------------------------------------|--------------------------|
| extract   | YouTube ``search.list`` REST call (:28-50)     | ``SearchSource`` protocol|
| land raw  | pretty JSON to DBFS (:52-73)                   | :func:`load_raw`         |
| transform | multiline read + explode/flatten (:75-113)     | :func:`transform`        |
| load      | one observed anti-join append (:115-138)       | :func:`load_into_table`  |

Semantic fine print preserved exactly (SURVEY.md §2.1):
- dedup is cross-batch only, keyed on ``videoId``; intra-batch duplicates
  survive (no dropDuplicates in the load path);
- first load (empty table) appends with **no** dedup at all;
- a re-seen videoId under a different keyword is dropped, not updated
  (latest-keyword-loses; no MERGE).
Extensions are explicit opt-ins (``dedup_within_batch``) so parity stays
testable.

Scale notes: the reference anti-joins each batch against the FULL sink
table (O(sink) per batch — unworkable at 100 TB).  :func:`load_into_table`
accepts ``dedup_scope`` to anti-join only a recent slice (partition-pruned
dedup), the standard incremental-ingest fix; the streaming module layers
``foreachBatch`` + watermarked state on the same sink.
"""

from __future__ import annotations

import json
import os
from typing import Protocol

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.pipeline.countries import (
    pick_keyword,
)
from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
    read_multiline_json,
)

#: Flattened silver/gold schema — parity with the sink DDL
#: (ETL_pipeline_countries.py:159-168).
RESULT_COLUMNS = (
    "keyword",
    "etag",
    "nextPageToken",
    "videoId",
    "title",
    "description",
    "channelTitle",
    "publishedAt",
)


class SearchSource(Protocol):
    """Extract-stage boundary (reference: driver -> Google HTTPS,
    ETL_pipeline_countries.py:42-49).  Implementations return the raw
    search payload as a dict."""

    def fetch(self, keyword: str, max_results: int) -> dict: ...


# SyntheticVideoSource lives in sources/video_datasource.py (the Python
# Data Source module is pickled by value to executors and must be
# self-contained); re-exported here for the pipeline-facing API.
from end_to_end_data_engineering_project_with_databricks_spark.sources.video_datasource import (  # noqa: E402
    SyntheticVideoSource,
)


class RestVideoSource:
    """Where a real REST extract would live (parity with
    ``googleapiclient.discovery.build`` + ``search().list`` at
    ETL_pipeline_countries.py:42-49).  Deliberately unimplemented here:
    this environment is network-free and API keys must never be embedded
    (the reference leaks one at :42 — see SURVEY.md provenance note)."""

    def fetch(self, keyword: str, max_results: int) -> dict:  # pragma: no cover
        raise NotImplementedError(
            "network extract not available in this environment; "
            "inject any SearchSource implementation instead"
        )


def load_raw(data: dict, file_name: str, raw_dir: str) -> str:
    """Land the raw payload as one pretty-printed JSON document (bronze).

    Parity with ``loadRawData`` (ETL_pipeline_countries.py:52-73):
    ``json.dumps(..., indent=4)`` forces a multi-line document, which is
    why the downstream read needs ``multiLine=true``.  The reference's
    ``/dbfs/...`` POSIX-mount vs ``/FileStore/...`` URI duality collapses
    to one shared path here.

    Scale note: whole-document JSON files are unsplittable; keep raw
    landings small and convert to Parquet at bronze->silver (SURVEY.md §7).
    """
    os.makedirs(raw_dir, exist_ok=True)
    path = os.path.join(raw_dir, f"{file_name}.json")
    with open(path, "w") as f:
        f.write(json.dumps(data, indent=4))
    return path


def transform(spark: SparkSession, keyword: str, file_path: str) -> DataFrame:
    """Bronze -> silver: multiline JSON scan, provenance column, explode,
    nested-field flatten, timestamp cast.

    Parity with ``transformData`` (ETL_pipeline_countries.py:75-113),
    operator for operator:
    - multiline read + schema inference (:92),
    - ``lit(keyword).cast("string")`` provenance column (:95),
    - ``explode(items)`` — the one row-multiplying operator (:98),
    - dotted-path struct extraction with aliases (:101-110),
    - RFC3339 string -> timestamp cast (:109).
    Unlike the reference this takes ``spark`` explicitly (no hidden
    ``getOrCreate`` coupling, SURVEY.md §2.1 fine print)."""
    raw = read_multiline_json(spark, file_path)
    return (
        raw.withColumn("keyword", F.lit(keyword).cast("string"))
        .withColumn("item", F.explode(F.col("items")))
        .select(
            F.col("keyword"),
            F.col("etag"),
            F.col("nextPageToken"),
            F.col("item.id.videoId").alias("videoId"),
            F.col("item.snippet.title").alias("title"),
            F.col("item.snippet.description").alias("description"),
            F.col("item.snippet.channelTitle").alias("channelTitle"),
            F.col("item.snippet.publishedAt").cast("timestamp").alias("publishedAt"),
        )
    )


def ensure_sink(spark: SparkSession, table: str = "delta_tables.video_results") -> None:
    """DDL parity (ETL_pipeline_countries.py:151-168; README.md:163-180):
    pre-created database + schema-enforced sink table.  Delta in the
    reference; Parquet-backed managed table as the portable fallback
    (SURVEY.md §1.1 row 4)."""
    db = table.split(".")[0]
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} (
          keyword STRING,
          etag STRING,
          nextPageToken STRING,
          videoId STRING,
          title STRING,
          description STRING,
          channelTitle STRING,
          publishedAt TIMESTAMP
        ) USING parquet
        """
    )


def load_into_table(
    spark: SparkSession,
    result_df: DataFrame,
    table: str = "delta_tables.video_results",
    dedup_within_batch: bool = False,
    dedup_scope: DataFrame | None = None,
) -> int:
    """Silver -> gold: idempotent append via LEFT ANTI join on ``videoId``.

    Parity with ``loadIntoDeltaTable`` (ETL_pipeline_countries.py:115-138):
    ``result_df.join(existing, "videoId", "left_anti")``, then append.  The
    ``isEmpty`` branch (:132-133) needs no probe: an anti-join against an
    empty sink keeps every row (intra-batch duplicates and NULL ids too),
    so the first load still appends everything with **no** dedup.  Returns
    the rows appended, counted by ``df.observe`` in the one write job.

    Extensions (off by default to preserve parity):
    - ``dedup_within_batch``: also drop intra-batch duplicate videoIds
      (the reference keeps them, SURVEY.md §2.1 fine print (a)).
    - ``dedup_scope``: anti-join against this slice of the sink instead of
      the full table — partition-pruned dedup, the 100 TB fix for the
      reference's O(full-sink) scan per batch.  It must be a slice of the
      sink, so it is empty when the sink is; an id outside the slice is
      appended again (the O(recent) trade-off).

    **Single-writer assumption** (same as the reference's scheduled
    notebook, which runs one job at a time): the dedup is check-then-act
    against a non-transactional parquet sink — two concurrent callers can
    both anti-join against the same snapshot and both append the same
    key.  For concurrent writers, sink through the versioned table
    instead (``streaming.windows.run_foreach_batch_versioned`` /
    ``sources.versioned.merge_upsert``), whose optimistic commit
    recomputes the touched-file set on every retry, keeping keys unique
    under races (tests/test_versioned_sink.py concurrency tests).
    """
    ensure_sink(spark, table)
    batch = result_df
    if dedup_within_batch:
        batch = batch.dropDuplicates(["videoId"])
    scope = dedup_scope if dedup_scope is not None else spark.table(table)
    # one observed write: the plan runs once and counts what it appends
    appended = Observation()
    to_append = batch.join(scope, "videoId", "left_anti").select(*RESULT_COLUMNS)
    counted = to_append.observe(appended, F.count(F.lit(1)).alias("rows"))
    counted.write.mode("append").insertInto(table)
    # drop the cached file listing so this session's next read sees the
    # appended files (sessions cache catalog-table listings independently)
    spark.catalog.refreshTable(table)
    return appended.get["rows"]


def run_pipeline(
    spark: SparkSession,
    source: SearchSource,
    raw_dir: str,
    keyword: str | None = None,
    max_results: int = 50,
    table: str = "delta_tables.video_results",
    seed: int | None = None,
    dedup_within_batch: bool = False,
) -> int:
    """The 4-stage composition (ETL_pipeline_countries.py:144-147), with
    the keyword pick (:10-17) folded in.  Returns rows appended."""
    if keyword is None:
        _, keyword = pick_keyword(seed)
    payload = source.fetch(keyword, max_results)
    file_path = load_raw(payload, f"search_{keyword}_video_results", raw_dir)
    result_df = transform(spark, keyword, file_path)
    return load_into_table(
        spark, result_df, table=table, dedup_within_batch=dedup_within_batch
    )
