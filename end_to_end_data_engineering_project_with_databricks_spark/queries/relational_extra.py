"""Second-wave relational coverage: map-typed columns, positional
generators, unpivot/melt, range window frames, union-by-name, and
deterministic sampling.

These round out SURVEY.md §2.2's checklist beyond the first relational
module: every query here is a thin composition of built-in Spark
operators (JVM-side, codegen-eligible) with a DuckDB oracle, following
the same bit-equality conventions (functions/numeric.py; BIGINT casts
for counts; 1-based positions to match DuckDB's generate_subscripts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end_to_end_data_engineering_project_with_databricks_spark.functions.numeric import (
    DEC,
    SQL_DEC,
    dsum,
    sql_dsum,
)
from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import query
from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import load_table


@query(
    "map_functions",
    oracle="""
    SELECT event_id,
           m['type'][1] AS type_val,
           m['bucket'][1] AS bucket_val,
           array_to_string(list_sort(map_keys(m)), ',') AS sorted_keys,
           CAST(cardinality(m) AS INTEGER) AS n_entries
    FROM (
      SELECT event_id,
             map(['type', 'bucket'],
                 [event_type, CASE WHEN value >= 50 THEN 'high' ELSE 'low' END]) AS m
      FROM events
    ) t
    """,
    tags=("functions", "map"),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column pack: create_map / element_at / map_keys / size.

    Maps are the natural carrier for sparse per-row metadata (multimodal
    sidecars, feature bags).  All operators are JVM built-ins; keys are
    emitted sorted (map iteration order is engine-specific) and joined to
    one string — the correctness harness canonicalizes through a pandas
    sort, which requires hashable scalar cells (no list-typed columns).
    """
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("bucket"),
        F.when(F.col("value") >= 50, "high").otherwise("low"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "bucket").alias("bucket_val"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("sorted_keys"),
        F.size(m).alias("n_entries"),
    )


@query(
    "explode_with_position",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id % 50 = 0
    """,
    tags=("generator",),
)
def explode_with_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: generator that also emits the element ordinal — the
    building block for order-preserving token pipelines (positional
    n-grams, alignment).  Positions are 1-based to match DuckDB's
    generate_subscripts; Spark's posexplode is 0-based."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token"
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 500 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 500 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 500 = 0
    """,
    tags=("reshape",),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns -> long (measure, value) rows.

    ``DataFrame.unpivot`` is a narrow row-local expansion (an Expand
    node) — no shuffle, output 3x the filtered input.  The inverse of
    the pivot query in the first relational module."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@query(
    "window_range_frame",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
           CAST(SUM(CAST(o_totalprice AS {SQL_DEC})) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_90d
    FROM orders
    """,
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: trailing-90-day spend per customer.

    ``rangeBetween`` frames by ORDER-BY *value* distance (epoch seconds),
    not row offsets — rows landing in the same second share a frame, so
    the result is deterministic even under within-second order ties
    (where a ROWS frame would be ambiguous).  Exact decimal accumulation
    keeps per-frame sums bit-equal with the oracle."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_epoch", F.unix_timestamp("o_orderdate")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("order_epoch"))
        .rangeBetween(-7776000, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "order_epoch",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("spend_90d"),
    )


@query(
    "union_by_name",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal > 9000.0
    """,
    tags=("setops",),
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: position-independent union — schemas align by column
    name, the safe union for evolving pipelines (the positional union in
    the first relational module breaks silently on column reorder)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    b = c.filter(F.col("c_acctbal") > 9000.0).select(
        "c_acctbal", "c_custkey", "c_mktsegment"  # deliberately reordered
    )
    return a.unionByName(b)


@query(
    "agg_percentile_disc",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.50) AS p50,
           quantile_disc(o_totalprice, 0.90) AS p90
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "percentile", "sql"),
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles per group (PERCENTILE_DISC WITHIN GROUP).

    Discrete (selection) percentiles return actual data values — no
    interpolation arithmetic — so they compare bit-exactly across
    engines, unlike PERCENTILE_CONT whose lerp ordering differs.  Spark
    plans this as a sort-based aggregate; at 100 TB prefer
    approx_percentile (t-digest, mergeable partial state) when a
    tolerance is acceptable — the approximate variant is registered
    separately with the rows-only check."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        FROM orders
        GROUP BY o_orderstatus
        """
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/scaling.salted_join): the fact side
    carries a deterministic salt, the orders side is replicated per salt
    value, and the join key becomes (orderkey, salt) — a hot orderkey
    spreads over 8 reducers instead of melting one.  The oracle runs the
    PLAIN join: salting must not change join semantics, only the
    physical distribution."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        salted_join,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return (
        salted_join(li, orders, "l_orderkey", "o_orderkey", salt_buckets=8)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_lines"), dsum("l_extendedprice").alias("revenue"))
    )


@query(
    "agg_skew_resistant_distinct",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "distinct", "skew"),
)
def agg_skew_resistant_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-stage COUNT DISTINCT + exact SUM over the skewed
    events table (5 hot event_type keys).  See
    operators/scaling.skew_resistant_agg for the 100 TB rationale; the
    oracle proves the two-stage plan equals the one-stage semantics."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        skew_resistant_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    return skew_resistant_agg(
        ev, keys=["event_type"], distinct_col="user_id", value_col="value"
    )


@query(
    "sample_systematic",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS sampled_revenue
    FROM lineitem
    WHERE l_orderkey % 100 = 7
    """,
    tags=("sample", "filter"),
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-100 systematic sample on the fact table.

    ``df.sample()`` is seed-dependent across engines and partitionings;
    keyed modulo sampling is reproducible anywhere, joins consistently
    (the same orders are sampled in every table keyed by orderkey), and
    pushes down to the scan as a cheap predicate — the right sampling
    primitive for 100 TB estimation pipelines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 7).agg(
        F.count("*").alias("n_rows"),
        dsum("l_extendedprice").alias("sampled_revenue"),
    )


@query(
    "agg_histogram_width_bucket",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE CAST(floor(o_totalprice / 25000) AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS bucket_total
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def agg_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket: one narrow bucket-assign
    map + one combinable hash agg — the constant-memory way to see a
    distribution at 100 TB (contrast percentile_disc, which must
    shuffle values).  Bucket 21 is the overflow bin, per SQL-standard
    width_bucket semantics shared by both engines."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20)).alias(
                "bucket"
            ),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("bucket_total"))
    )


@query(
    "window_percent_rank_cume_dist",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    tags=("window",),
)
def window_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions: percent_rank ((rank-1)/(n-1))
    and cume_dist (rows_at_or_before/n) per nation.  Both are single
    IEEE divisions of integer counts, so values hash identically across
    engines; the s_suppkey tiebreak makes rank order total."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT s.s_suppkey,
           COUNT(c.c_custkey) AS n_customers
    FROM supplier s
    LEFT JOIN customer c
      ON c.c_acctbal >= s.s_acctbal AND c.c_acctbal < s.s_acctbal + 500
    GROUP BY s.s_suppkey
    """,
    tags=("join", "range", "binned"),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join via binning (operators/scaling.binned_range_join):
    customers counted into each supplier's [acctbal, acctbal+500) band.
    Intervals explode into the bins they overlap, points key by their
    single containing bin, and the match becomes one equi-join shuffle
    plus an exact refine — the scale path the broadcast-NL range join
    (join_range_price_bands) cannot take when neither side is tiny.
    Suppliers with an empty band are restored by a left join against the
    matched counts (COUNT of the null-extended column = 0)."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        binned_range_join,
    )

    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + 500).alias("hi"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    matched = (
        binned_range_join(cust, supp, "c_acctbal", "lo", "hi", bin_width=500.0)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_matched"))
    )
    base = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return base.join(matched, "s_suppkey", "left").select(
        "s_suppkey",
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_customers"),
    )


@query(
    "audit_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT l_orderkey FROM lineitem
               EXCEPT SELECT o_orderkey FROM orders)) AS n_orphan_keys
    UNION ALL
    SELECT 'lineitem.l_partkey -> part.p_partkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT l_partkey FROM lineitem
               EXCEPT SELECT p_partkey FROM part)) AS n_orphan_keys
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier.s_suppkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) FROM lineitem) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT l_suppkey FROM lineitem
               EXCEPT SELECT s_suppkey FROM supplier)) AS n_orphan_keys
    UNION ALL
    SELECT 'orders.o_custkey -> customer.c_custkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT o_custkey FROM orders
               EXCEPT SELECT c_custkey FROM customer)) AS n_orphan_keys
    UNION ALL
    SELECT 'customer.c_nationkey -> nation.n_nationkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT c_nationkey FROM customer
               EXCEPT SELECT n_nationkey FROM nation)) AS n_orphan_keys
    UNION ALL
    SELECT 'supplier.s_nationkey -> nation.n_nationkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) FROM supplier) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT s_nationkey FROM supplier
               EXCEPT SELECT n_nationkey FROM nation)) AS n_orphan_keys
    UNION ALL
    SELECT 'nation.n_regionkey -> region.r_regionkey' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_child_rows,
           (SELECT CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM nation) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT n_regionkey FROM nation
               EXCEPT SELECT r_regionkey FROM region)) AS n_orphan_keys
    """,
    tags=("audit", "join", "data-quality"),
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema foreign-key audit: one report row per relationship
    with child row count, distinct key count, and ORPHAN key count
    (child keys with no parent) — the ingest-gate every warehouse load
    runs before trusting joins.  Scale shape: each orphan check is a
    LEFT ANTI join of the child's DISTINCT keys (aggregate-before-join
    shrinks the probe side to |keys|) against the parent's key column;
    dimension parents broadcast.  The reports union to a 7-row result,
    so the whole audit is metadata-sized output over map-side-combined
    scans."""
    rels = [
        ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    report = None
    for rel, child_t, child_k, parent_t, parent_k in rels:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t).select(parent_k)
        keys = child.select(F.col(child_k).alias("k")).distinct()
        orphans = keys.join(
            parent, keys["k"] == parent[parent_k], "left_anti"
        ).agg(F.count("*").alias("n_orphan_keys"))
        row = (
            child.agg(
                F.count("*").alias("n_child_rows"),
                F.countDistinct(child_k).alias("n_distinct_keys"),
            )
            .crossJoin(orphans)
            .select(
                F.lit(rel).alias("relationship"),
                "n_child_rows",
                "n_distinct_keys",
                "n_orphan_keys",
            )
        )
        report = row if report is None else report.unionAll(row)
    return report


@query(
    "stat_crosstab",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("stat", "agg", "pivot"),
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.stat.crosstab``: the contingency-table convenience
    over (status x priority) — one hash aggregate and a driver-side
    pivot of the (|statuses| x |priorities|) cell grid, fine whenever
    both cardinalities are small (for large dims use groupBy().pivot()
    with explicit values so the schema is planned, not collected).
    Cell counts are exact longs; the oracle states the same table as
    CASE-pivoted sums.

    The five TPC-H priorities are the oracle's FIXED output schema, but
    the Spark side backfills any priority absent from the crosstab's
    actual columns with a zero column instead of selecting it blindly —
    a scale/filter where some priority has no orders yields a zero
    column on both sides rather than a missing-column error (ADVICE
    r4)."""
    o = load_table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    present = set(ct.columns)
    return ct.select(
        "o_orderstatus_o_orderpriority",
        *[
            (F.col("`" + v + "`") if v in present else F.lit(0))
            .cast("long")
            .alias(v)
            for v in ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ],
    )


@query(
    "audit_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_text,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    """,
    tags=("audit", "observe", "data-quality"),
)
def audit_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe``: data-quality metrics accumulated DURING a
    pass the pipeline already runs (here a noop materialization standing
    in for the real sink write) — zero extra scans, unlike a separate
    audit query.  This is how a 100 TB load asserts row counts and null
    budgets without doubling its I/O.  The observed metrics come back on
    the driver as one bounded row, re-emitted as the result DataFrame."""
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents")
    obs = Observation("docs_load_metrics")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum("n_chars").alias("sum_chars"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["n_null_text"]), int(m["sum_chars"]))],
        "n_rows long, n_null_text long, sum_chars long",
    )


@query(
    "agg_modern_pack",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
             AS n_big,
           bool_and(o_totalprice > 900) AS all_above_min,
           bool_or(o_orderpriority = '1-URGENT') AS has_urgent,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderpriority = '5-LOW')
                AS BIGINT) AS low_key_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "modern", "sql"),
)
def agg_modern_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate surface: count_if, bool_and/bool_or (every/any),
    and the ANSI FILTER clause — the conditional-aggregation idioms that
    replace SUM(CASE WHEN ...) towers.  All shapes stay one map-side-
    combinable hash aggregate; every function is deterministic (counts,
    booleans, integer sums), so the pack hash-checks exactly."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 900) AS all_above_min,
               bool_or(o_orderpriority = '1-URGENT') AS has_urgent,
               SUM(o_orderkey) FILTER (WHERE o_orderpriority = '5-LOW')
                 AS low_key_sum
        FROM orders
        GROUP BY o_orderstatus
        """
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH promos AS (
      SELECT CAST(i AS BIGINT) AS promo_id,
             CAST(i * 45 AS BIGINT) AS p_start,
             CAST(i * 45 + 9 AS BIGINT) AS p_end
      FROM generate_series(0, 50) t(i)
    ),
    ivals AS (
      SELECT l_orderkey,
             MIN(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)))
               AS s_day,
             MAX(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)))
               AS e_day
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(least(e_day, p_end) - greatest(s_day, p_start) + 1)
                AS BIGINT) AS overlap_days
    FROM ivals JOIN promos
      ON s_day <= p_end AND e_day >= p_start
    GROUP BY promo_id
    """,
    tags=("join", "range", "binned", "interval"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join between two big sides as an equi-join
    (operators/scaling.binned_interval_overlap_join): each order's
    fulfillment window [first ship, last ship] against a 10-day promo
    window every 45 days, rolled up to per-promo order counts and total
    overlap days.  Completes the join matrix's range tier: point-in-
    interval is join_range_binned; interval-x-interval is this — both
    sides explode into 32-day bins, equi-join on the bin id, the exact
    overlap predicate refines, and the first-shared-bin rule keeps
    output exactly-once with no dedup shuffle.  The oracle states the
    overlap join declaratively; all arithmetic is integer day counts."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        binned_interval_overlap_join,
    )

    day = lambda c: F.datediff(F.col(c).cast("date"), F.lit("1992-01-01").cast("date"))  # noqa: E731
    ivals = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.min(day("l_shipdate")).alias("s_day"),
            F.max(day("l_shipdate")).alias("e_day"),
        )
    )
    promos = spark.range(0, 51).select(
        F.col("id").alias("promo_id"),
        (F.col("id") * 45).alias("p_start"),
        (F.col("id") * 45 + 9).alias("p_end"),
    )
    matched = binned_interval_overlap_join(
        ivals, promos, "s_day", "e_day", "p_start", "p_end", bin_width=32.0
    )
    overlap = (
        F.least(F.col("e_day").cast("long"), F.col("p_end"))
        - F.greatest(F.col("s_day").cast("long"), F.col("p_start"))
        + 1
    )
    return matched.groupBy("promo_id").agg(
        F.count("*").alias("n_orders"),
        F.sum(overlap).alias("overlap_days"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS p25_disc, TRUE AS p25_ok,
           quantile_disc(o_totalprice, 0.50) AS p50_disc, TRUE AS p50_ok,
           quantile_disc(o_totalprice, 0.90) AS p90_disc, TRUE AS p90_ok
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "percentile", "approx", "sketch"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch): p25/p50/p90 of
    order totals per status with bounded accuracy (1/10000 relative
    rank error).  The sketch counterpart to agg_percentile_disc: the
    exact form must shuffle values for a per-group sort, the sketch
    keeps fixed-size mergeable state per partition — the same scale
    trade as exact COUNT(DISTINCT) vs HLL (agg_hll_sketch_union).

    HASH-CHECKABLE despite being approximate: the raw estimates depend
    on sketch merge order, so the query emits the exact discrete
    percentile plus a deterministic bounds check — each estimate must
    land within the +/-1% rank window of the exact value (two orders of
    magnitude looser than the sketch's 1e-4 guarantee, so the booleans
    are stable TRUE unless the sketch is actually broken).  Same trick
    as join_bloom_prefilter's exact FP count."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25_disc,
               approx_percentile(o_totalprice, 0.25, 10000) BETWEEN
                 percentile_disc(0.24) WITHIN GROUP (ORDER BY o_totalprice) AND
                 percentile_disc(0.26) WITHIN GROUP (ORDER BY o_totalprice) AS p25_ok,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc,
               approx_percentile(o_totalprice, 0.50, 10000) BETWEEN
                 percentile_disc(0.49) WITHIN GROUP (ORDER BY o_totalprice) AND
                 percentile_disc(0.51) WITHIN GROUP (ORDER BY o_totalprice) AS p50_ok,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90_disc,
               approx_percentile(o_totalprice, 0.90, 10000) BETWEEN
                 percentile_disc(0.89) WITHIN GROUP (ORDER BY o_totalprice) AND
                 percentile_disc(0.91) WITHIN GROUP (ORDER BY o_totalprice) AS p90_ok
        FROM orders
        GROUP BY o_orderstatus
        """
    )


@query(
    "agg_quantile_sketch",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           quantile_disc(o_totalprice, 0.50) AS p50_disc, TRUE AS p50_ok,
           quantile_disc(o_totalprice, 0.90) AS p90_disc, TRUE AS p90_ok,
           TRUE AS n_ok
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
           quantile_disc(o_totalprice, 0.50), TRUE,
           quantile_disc(o_totalprice, 0.90), TRUE, TRUE
    FROM orders
    """,
    tags=("agg", "percentile", "approx", "sketch"),
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches (Karnin-Lang-Liberty, FOCS'16;
    Spark 4's DataSketches ``kll_sketch_agg_double`` family): p50/p90
    of order totals per status, plus an 'ALL' row whose quantiles come
    from MERGING the per-group sketches with ``kll_merge_agg_double`` —
    not from re-scanning the data.  The quantile counterpart of
    agg_hll_sketch_union: at 100 TB a length-distribution gate (e.g.
    "drop documents above the corpus p99 token count") needs per-
    partition quantile state that rolls up across partitions, shards,
    and time windows with FIXED size; exact percentile_disc must sort
    each group, and agg_approx_percentile's t-digest, while mergeable
    inside one aggregate, exposes no sketch value to carry across
    rollup levels.  KLL state is O(k log(n/k)) with a worst-case rank
    error guarantee (~0.56% at k=800, 99% confidence).

    HASH-CHECKABLE via the bounded-check pattern: KLL compaction is
    RANDOMIZED (verified: back-to-back runs return different estimates),
    so raw estimates can never be hash-compared.  Each row emits the
    exact discrete percentile plus booleans — the estimate must land
    inside the exact +/-3%-rank window (>5x the sketch's k=800 bound,
    so the booleans are stable TRUE unless the sketch is broken), and
    ``kll_sketch_get_n_double(sk) == COUNT(*)`` — exact and
    deterministic: KLL tracks the total item count losslessly, so a
    merged sketch whose n is the full table count PROVES no partition's
    partial state was dropped on the rollup path.  (The rank-query API
    ``kll_sketch_get_rank_double`` takes only foldable quantile
    literals in Spark 4.1, so the inverse check is not expressible
    per-group.)  The merged-ALL row proves union correctness, not just
    per-group sketching (cf. reference ETL_pipeline_countries.py:129-138, whose
    gold-table rollups this engine generalizes)."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("orders",))
    # ONE scan of orders: GROUPING SETS computes the per-status AND the
    # global exact anchors in a single Expand+aggregate (the first
    # version paid 7 scalar-subquery re-scans for the ALL row's
    # anchors — at 100 TB, 7 extra table scans).  The <=4-row aggregate
    # is localCheckpointed before its three consumers: CTE inlining
    # pushes DIFFERENT is_all filters into each copy, so exchange reuse
    # cannot dedupe them (measured: 6 runtime scans without the
    # checkpoint, 1 with).  The ALL row's SKETCH still comes from
    # kll_merge_agg_double over the per-status sketches — the
    # mergeability demonstration — via a join of two 1-row relations
    # (Catalyst folds the constant equi-key, leaving a 1-row x 1-row
    # BroadcastNestedLoopJoin — allow-listed in
    # tests/test_registry_plan_hygiene.py like agg_theta_sketch_setops);
    # the grouping sets' directly-built global sketch is deliberately
    # discarded.
    per = spark.sql(
        """
        SELECT GROUPING(o_orderstatus) AS is_all,
               COALESCE(o_orderstatus, 'ALL') AS st,
               COUNT(*) AS n_orders,
               kll_sketch_agg_double(o_totalprice, 800) AS sk,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc,
               percentile_disc(0.47) WITHIN GROUP (ORDER BY o_totalprice) AS p50_lo,
               percentile_disc(0.53) WITHIN GROUP (ORDER BY o_totalprice) AS p50_hi,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90_disc,
               percentile_disc(0.87) WITHIN GROUP (ORDER BY o_totalprice) AS p90_lo,
               percentile_disc(0.93) WITHIN GROUP (ORDER BY o_totalprice) AS p90_hi
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), ())
        """
    ).localCheckpoint(eager=True)
    per.createOrReplaceTempView("agg_quantile_sketch_per")
    return spark.sql(
        """
        WITH per AS (SELECT * FROM agg_quantile_sketch_per),
        merged AS (
          SELECT 1 AS k, kll_merge_agg_double(sk) AS sk_m
          FROM per WHERE is_all = 0
        ),
        rows_out AS (
          SELECT st AS o_orderstatus, n_orders, sk,
                 p50_disc, p50_lo, p50_hi, p90_disc, p90_lo, p90_hi
          FROM per WHERE is_all = 0
          UNION ALL
          SELECT p.st, p.n_orders, m.sk_m,
                 p.p50_disc, p.p50_lo, p.p50_hi,
                 p.p90_disc, p.p90_lo, p.p90_hi
          FROM (SELECT 1 AS k, * FROM per WHERE is_all = 1) p
          JOIN merged m USING (k)
        )
        SELECT o_orderstatus, n_orders,
               p50_disc,
               kll_sketch_get_quantile_double(sk, 0.50)
                 BETWEEN p50_lo AND p50_hi AS p50_ok,
               p90_disc,
               kll_sketch_get_quantile_double(sk, 0.90)
                 BETWEEN p90_lo AND p90_hi AS p90_ok,
               kll_sketch_get_n_double(sk) = n_orders AS n_ok
        FROM rows_out
        """
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "profile_numeric_columns",
    oracle=f"""
    WITH long AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS v FROM lineitem"
          for c in _PROFILE_COLS
      )}
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(v) AS n_null,
           COUNT(DISTINCT v) AS n_distinct,
           MIN(v) AS min_val,
           MAX(v) AS max_val
    FROM long
    GROUP BY col_name
    """,
    tags=("profiling", "agg", "unpivot", "data-quality"),
)
def profile_numeric_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling summary — the schema-audit pass a pipeline runs
    before training ingest: per numeric column, row/null/exact-distinct
    counts and min/max.

    Implemented as one unpivot (an Expand node: row-local, narrow, no
    shuffle) followed by a single hash aggregate keyed on the column
    name — the whole table is scanned ONCE for all profiled columns
    instead of one job per column (the naive profiler shape).  Exact
    COUNT(DISTINCT v) rewrites to a two-level aggregate (distinct on
    (col_name, v) then count) — at 100 TB swap it for
    approx_count_distinct, the documented trade in
    agg_approx_count_distinct.  min/max/null counts come from the same
    pass at no extra shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        [F.col(c).cast("double").alias(c) for c in _PROFILE_COLS],
        "col_name",
        "v",
    )
    return long.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.count_distinct(F.col("v")).alias("n_distinct"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_partkey < 500
    ),
    edges AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles
    """,
    tags=("graph", "join", "self-join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts appearing
    in the same order are adjacent; subgraph l_partkey < 500) — the
    graph-analytics companion to dedup_connected_components: CC is the
    iterative pattern, triangles are the pure self-join pattern.

    Edges are oriented low-id -> high-id so each triangle is counted
    exactly once as (a<b<c): e1=(a,b) joins e2=(b,c) to enumerate
    wedges, and e3=(a,c) closes them — two equi-join shuffles on node
    keys, no iteration.  Wedge fan-out is the scale hazard: it grows
    with sum(in_deg*out_deg), so production triangle counting orients
    edges by (degree, id) instead of raw id, which provably bounds
    every node's out-degree at O(sqrt(|E|)) and with it the wedge
    count; the id orientation here keeps the oracle SQL exact while
    the subgraph filter bounds the demo input.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 500)
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    b = items.select(F.col("o"), F.col("p").alias("v"))
    edges = (
        items.join(b, "o")
        .filter(F.col("p") < F.col("v"))
        .select(F.col("p").alias("u"), "v")
        .distinct()
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return edges.agg(F.count("*").alias("n_edges")).crossJoin(
        tri.agg(F.count("*").alias("n_triangles"))
    )


_PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point mass; see docstring
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    head = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_partkey < 300
    ),
    edges AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
    ),
    deg AS (SELECT u AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    it0 AS (
      SELECT node, outdeg, CAST({_PR_SCALE} AS BIGINT) // n_nodes AS pr
      FROM deg CROSS JOIN n
    )"""
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(f"""
    c{k} AS (
      SELECT e.v AS node, SUM(pr // outdeg) AS contrib
      FROM it{k - 1} JOIN edges e ON it{k - 1}.node = e.u GROUP BY 1
    ),
    it{k} AS (
      SELECT d.node, d.outdeg,
             (15 * (CAST({_PR_SCALE} AS BIGINT) // n_nodes)) // 100
             + (85 * COALESCE(contrib, 0)) // 100 AS pr
      FROM deg d LEFT JOIN c{k} USING (node) CROSS JOIN n
    )""")
    return head + "," + ",".join(steps) + f"""
    SELECT node, CAST(pr AS BIGINT) AS pr FROM it{_PR_ITERS}
    """


@query(
    "graph_pagerank_fixed_point",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) on the undirected part
    co-purchase graph (l_partkey < 300), in INTEGER fixed-point: rank
    mass is scaled to 1e12 and every step is integer division — so the
    per-node contribution sum is exact, order-independent long
    arithmetic and the result is bit-identical across engines.  A
    float PageRank can never hash-match: the contribution sum's
    accumulation order differs between engines in the last ulp and the
    error compounds per iteration.  The quantization bias is <= outdeg
    ulps of 1e-12 per node per step — noise relative to float64
    round-off, but deterministic noise.

    Shape per iteration: one equi-join of ranks to edges on the source
    key, one hash aggregate on the destination key — the canonical
    distributed PageRank step (what Pregel/GraphX do under the hood),
    expressed as DataFrame ops so Catalyst handles partitioning; both
    shuffles key on node ids, so co-partitioning carries across
    iterations.  The unrolled 3-step plan is oracle-checkable SQL; the
    open-iteration variant with lineage truncation is the round loop of
    operators/dedup.connected_components.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 300)
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    b = items.select("o", F.col("p").alias("v"))
    edges = (
        items.join(b, "o")
        .filter(F.col("p") != F.col("v"))
        .select(F.col("p").alias("u"), "v")
        .distinct()
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    nstats = deg.agg(F.count("*").alias("n_nodes"))
    base = F.expr(f"(15 * (CAST({_PR_SCALE} AS BIGINT) div n_nodes)) div 100")
    pr = deg.crossJoin(F.broadcast(nstats)).select(
        "node",
        "outdeg",
        F.expr(f"CAST({_PR_SCALE} AS BIGINT) div n_nodes").alias("pr"),
    )
    for _ in range(_PR_ITERS):
        contrib = (
            pr.join(edges, pr["node"] == edges["u"])
            .select(F.col("v").alias("node"), F.expr("pr div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nstats))
            .select(
                "node",
                "outdeg",
                (
                    base
                    + F.expr("(85 * COALESCE(contrib, CAST(0 AS BIGINT))) div 100")
                ).alias("pr"),
            )
        )
    return pr.select("node", "pr")


@query(
    "join_bloom_prefilter",
    oracle="""
    WITH members AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    flags AS (
      SELECT o_orderstatus,
             substr(md5('a' || CAST(o_custkey AS VARCHAR)), 1, 3) IN
               (SELECT DISTINCT substr(md5('a' || CAST(c_custkey AS VARCHAR)), 1, 3)
                FROM members) AS pa,
             substr(md5('b' || CAST(o_custkey AS VARCHAR)), 1, 3) IN
               (SELECT DISTINCT substr(md5('b' || CAST(c_custkey AS VARCHAR)), 1, 3)
                FROM members) AS pb,
             substr(md5('c' || CAST(o_custkey AS VARCHAR)), 1, 3) IN
               (SELECT DISTINCT substr(md5('c' || CAST(c_custkey AS VARCHAR)), 1, 3)
                FROM members) AS pc,
             o_custkey IN (SELECT c_custkey FROM members) AS actual
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN pa AND pb AND pc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_bloom,
           CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_actual
    FROM flags
    GROUP BY o_orderstatus
    """,
    tags=("join", "bloom", "runtime-filter", "agg"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filtering — the runtime-filter pattern
    that prunes a 100 TB probe side BEFORE the real join: the build side
    (BUILDING customers) is condensed to k=3 tiny hash-position sets
    (first 3 md5 hex chars under 3 salts -> <= 4096 buckets each, always
    broadcastable no matter how large the build side grows), the probe
    side keeps a row only if ALL positions hit, and the exact semi-join
    then runs on the survivors.  One-sided error by construction: zero
    false negatives (asserted per group: n_pass_bloom >= n_actual, and
    every actual member passes), false positives bounded by the m=4096
    bucket saturation.  md5 makes positions engine-portable, so the
    oracle rebuilds the identical filter and the false-positive counts
    match EXACTLY.  Spark's own runtime row-group filtering
    (bloom_filter_agg) is an internal optimizer rewrite; this is the
    library form when the optimizer cannot see through the join (e.g.
    pre-filtering before an expensive UDF stage)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")

    def pos(seed: str, key: str) -> Column:
        return F.substring(F.md5(F.concat(F.lit(seed), F.col(key).cast("string"))), 1, 3)

    flags = o.select("o_orderstatus", "o_custkey")
    for seed in ("a", "b", "c"):
        bset = c.select(pos(seed, "c_custkey").alias(f"p{seed}")).distinct()
        flags = flags.join(
            F.broadcast(bset.withColumn(f"hit_{seed}", F.lit(True))),
            pos(seed, "o_custkey") == F.col(f"p{seed}"),
            "left",
        ).drop(f"p{seed}")
    members = c.select(F.col("c_custkey").alias("o_custkey")).distinct()
    flags = flags.join(
        F.broadcast(members.withColumn("hit_actual", F.lit(True))),
        "o_custkey",
        "left",
    )
    passed = (
        F.col("hit_a").isNotNull()
        & F.col("hit_b").isNotNull()
        & F.col("hit_c").isNotNull()
    )
    return flags.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(passed, 1).otherwise(0)).alias("n_pass_bloom"),
        F.sum(F.when(F.col("hit_actual").isNotNull(), 1).otherwise(0)).alias(
            "n_actual"
        ),
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_custs
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4 bitmap aggregates: keys
    partition into 32k-bit buckets (bitmap_bucket_number), each bucket
    reduces to ONE bitmap with map-side partial merging
    (bitmap_construct_agg), and the final count is a sum of per-bucket
    popcounts.  The mergeable-exact middle ground between plain
    COUNT(DISTINCT) (shuffles every distinct key; its skew-prone shape
    is handled separately in agg_skew_resistant_distinct) and HLL
    sketches (approximate, agg_hll_sketch_union): shuffle volume is one
    4 KB bitmap per populated bucket per task — for dense integer key
    spaces that is ~1 bit per key instead of 8 bytes.  Also the
    incremental-MV form: per-partition bitmaps OR-merge (bitmap_or_agg)
    without recounting history.  The oracle is plain COUNT(DISTINCT) —
    same exact answer through a different physical shape."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_bm_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, SUM(cnt) AS n_distinct_custs
        FROM (
          SELECT o_orderstatus,
                 bitmap_count(
                   bitmap_construct_agg(bitmap_bit_position(o_custkey))
                 ) AS cnt
          FROM _bm_orders
          GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey)
        )
        GROUP BY o_orderstatus
        """
    )


@query(
    "profile_key_skew",
    oracle="""
    WITH freq AS (
      SELECT l_partkey, COUNT(*) AS key_rows FROM lineitem GROUP BY l_partkey
    ),
    banded AS (
      SELECT CAST(length(printf('%b', key_rows)) - 1 AS BIGINT) AS band,
             key_rows
      FROM freq
    )
    SELECT band,
           CAST(1 AS BIGINT) << band AS band_min_rows,
           COUNT(*) AS n_keys,
           CAST(SUM(key_rows) AS BIGINT) AS n_rows,
           MAX(key_rows) AS max_key_rows
    FROM banded
    GROUP BY band
    """,
    tags=("profiling", "agg", "skew", "ops"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the operational pre-check before
    choosing a shuffle strategy (plain hash join vs salting vs AQE skew
    split): per-key row counts for ``lineitem.l_partkey`` summarized
    into power-of-two frequency bands (band = floor(log2(rows)),
    computed by INTEGER binary-string length on both engines — no float
    log).  A healthy uniform key shows one or two adjacent bands; a
    heavy-hitter key surfaces as a lone populated high band whose
    ``max_key_rows`` quantifies the straggler partition a naive shuffle
    would produce (rule of thumb: salt when max_key_rows exceeds
    rows/shuffle-partitions by ~10x).

    Scale shape: first aggregate is the standard map-side-combining
    hash-agg keyed on the join key (the only corpus-wide shuffle —
    identical cost to the join's own shuffle it diagnoses); the band
    rollup runs over key-cardinality-sized input.  Used at 100 TB as a
    sampled pre-pass or over the join's own partial-agg output."""
    freq = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("key_rows"))
    )
    band = (F.length(F.conv(F.col("key_rows").cast("string"), 10, 2)) - 1).cast(
        "long"
    )
    return (
        freq.select(band.alias("band"), "key_rows")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("key_rows").alias("n_rows"),
            F.max("key_rows").alias("max_key_rows"),
        )
        .select(
            "band",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(band AS INT))").alias(
                "band_min_rows"
            ),
            "n_keys",
            "n_rows",
            "max_key_rows",
        )
    )


@query(
    "agg_trimmed_winsorized",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT o_orderpriority, cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c
    ),
    a AS (
      SELECT o_orderpriority,
             MAX(n) AS n, MAX(n) // 10 AS g,
             SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                      THEN cents END) AS sum_mid,
             MAX(CASE WHEN rn = n // 10 + 1 THEN cents END) AS lo,
             MAX(CASE WHEN rn = n - n // 10 THEN cents END) AS hi
      FROM r GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           CAST(lo AS BIGINT) AS lo_cents,
           CAST(hi AS BIGINT) AS hi_cents,
           CAST(sum_mid // (n - 2 * g) AS BIGINT) AS trimmed_mean_cents,
           CAST((sum_mid + g * (lo + hi)) // n AS BIGINT)
             AS winsorized_mean_cents
    FROM a
    """,
    tags=("agg", "window", "robust"),
)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: 10%-trimmed mean and 10%-winsorized mean of
    order value per priority — the outlier-resistant location estimates a
    profiling pass reports next to the plain mean (one fat-finger order
    cannot move them).

    Exact-rank semantics, not approximate percentiles: rows rank by
    ``(cents, o_orderkey)`` (total order — the tie-break makes both
    engines pick the identical boundary rows), ``g = n div 10`` rows are
    dropped from each tail for the trim and CLAMPED to the boundary
    values for the winsorization.  All arithmetic is integer cents
    (``round(price*100)`` — positive values, so Spark HALF_UP and DuckDB
    round-away-from-zero agree), so sums are order-independent and
    hash-exact; ``n - 2g >= 1`` for every ``n >= 1`` so the trim divisor
    cannot hit zero.

    100 TB shape: both window functions share ONE partition spec
    (o_orderpriority) — a single hash-partition pass, no global sort;
    the final aggregate is a 5-group hash-agg over already-partitioned
    rows.  Skew note: a 5-value partition key means 5 reducers own the
    sort at any scale; for a high-cardinality fact this is the standard
    per-group robust-stats shape (partition count tracks group count)."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wp = Window.partitionBy("o_orderpriority")
    r = c.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mid = (F.col("rn") > F.expr("n div 10")) & (
        F.col("rn") <= F.col("n") - F.expr("n div 10")
    )
    a = r.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        F.expr("MAX(n) div 10").alias("g"),
        F.sum(F.when(mid, F.col("cents"))).alias("sum_mid"),
        F.max(F.when(F.col("rn") == F.expr("n div 10 + 1"), F.col("cents"))).alias(
            "lo"
        ),
        F.max(F.when(F.col("rn") == F.expr("n - n div 10"), F.col("cents"))).alias(
            "hi"
        ),
    )
    return a.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        F.expr("sum_mid div (n - 2 * g)").alias("trimmed_mean_cents"),
        F.expr("(sum_mid + g * (lo + hi)) div n").alias("winsorized_mean_cents"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, cents, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      FROM c
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
             AS weighted_median_cents
    FROM r GROUP BY l_returnflag
    """,
    tags=("agg", "window", "robust"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of line price, weighted by quantity, per
    return flag — the order statistic a revenue-weighted distribution
    summary needs (percentile_disc treats every row equally; here a
    50-unit line counts 50x).

    Exact lower-weighted-median semantics: rows sort by ``(cents,
    l_orderkey, l_linenumber)`` (a total order, so the running weight is
    identical in both engines) and the answer is the first value whose
    cumulative weight reaches half the group total (``2*cumw >= totw``
    — integer algebra, no halving division).  Prices quantize to integer
    cents and quantities to integer units, so everything is int64-exact.

    100 TB shape: both window functions share ONE partition spec — a
    single hash-partition pass, no global sort — and the finishing
    aggregate is a 3-group hash-agg.  Same per-group-sort skew contract
    as agg_trimmed_winsorized (reducer count tracks group count)."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    wp = Window.partitionBy("l_returnflag")
    r = c.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("w").over(wp).alias("totw"),
    )
    return r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("totw").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))
        ).alias("weighted_median_cents"),
    )


@query(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    r AS (
      SELECT l_returnflag, qty, cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, qty) AS rn
      FROM c
    )
    SELECT l_returnflag,
           qty AS mode_qty,
           CAST(cnt AS BIGINT) AS mode_count
    FROM r WHERE rn = 1
    """,
    tags=("agg", "window"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode per group with a DETERMINISTIC tie-break (smallest
    value wins) — built-in ``mode()`` leaves ties engine/partition-
    defined, which is exactly the nondeterminism a cross-engine result
    cannot carry, so the operator composes count + rank explicitly.

    100 TB shape: the value-count aggregate combines map-side (the
    shuffle carries (group, value) partials); the argmax window runs
    over value-CARDINALITY-sized input, not the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.round("l_quantity").cast("long").alias("qty")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("qty"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders
    ),
    a AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(cents) AS tot,
             SUM(rn * cents) AS rank_weighted
      FROM c GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           CAST(tot AS BIGINT) AS total_cents,
           CAST((1000000 * (2 * rank_weighted - (n + 1) * tot))
                // (n * tot) AS BIGINT) AS gini_fp
    FROM a
    """,
    tags=("agg", "window", "profile"),
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration coefficient of order value per priority
    — the inequality statistic a corpus/revenue profiling pass reports
    (0 = perfectly even, ->1 = one giant row holds everything; for
    training corpora the same formula prices source-size concentration).

    Computed from the rank formula ``G = (2*sum(i*x_i) - (n+1)*sum(x))
    / (n*sum(x))`` over values ranked ascending with an o_orderkey
    tie-break — a total order, so both engines weight the identical
    permutation.  The 1e6 fixed-point scaling would overflow int64 in
    one shot (``1e6 * num`` with num ~ n^2 * avg_value), so Spark runs
    the EXACT long-division chain in base 100 — ``q_i, r_i`` of
    ``(100 * r_{i-1}) div den`` three times, ``gini = 1e4*q1 + 1e2*q2
    + q3`` — pure int64 throughout and equal BY IDENTITY to the
    oracle's single HUGEINT division (each step carries the exact
    remainder; 100*r < 100*den).  Envelope: exact while
    ``sum(rn*cents) < 9e18`` and ``100 * n * sum(cents) < 9e18``
    (n*tot < 9e16 — verified at sf0.1, ~2e16); past that, widen the
    two accumulators to DECIMAL(38).

    Plan: the rank window and the finishing hash-agg share the group
    partition spec — one Exchange (pinned), same contract as the other
    robust aggregates."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        c.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("tot"),
            F.sum(F.expr("rn * cents")).alias("rank_weighted"),
        )
        .withColumn("num", F.expr("2 * rank_weighted - (n + 1) * tot"))
        .withColumn("den", F.expr("n * tot"))
        .withColumn("q1", F.expr("(100 * num) div den"))
        .withColumn("r1", F.expr("pmod(100 * num, den)"))
        .withColumn("q2", F.expr("(100 * r1) div den"))
        .withColumn("r2", F.expr("pmod(100 * r1, den)"))
        .withColumn("q3", F.expr("(100 * r2) div den"))
        .select(
            "o_orderpriority",
            F.col("n").alias("n_orders"),
            F.col("tot").alias("total_cents"),
            F.expr("10000 * q1 + 100 * q2 + q3").alias("gini_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch family (operators/sketches.py): point-frequency
# estimation and sketch-based join-size estimation, both replayed
# EXACTLY by DuckDB (hash-compared estimates, not bounded checks).
# ---------------------------------------------------------------------------


def _cms_frequency_sqls() -> tuple[str, str]:
    """(spark_sql, duckdb_oracle_sql) for agg_cms_frequency — generated
    from the same constants so the engines agree by construction."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_W_FREQ,
        cms_arms_duck,
        cms_bucket_duck,
        cms_stack_spark,
        cms_u_duck,
        cms_u_spark,
    )

    w = CMS_W_FREQ
    spark_sql = f"""
        WITH tok AS (
          SELECT source, toks FROM (
            SELECT source, split(text, ' ') AS toks FROM documents
          ) WHERE size(toks) >= 2
        ),
        bg AS (
          SELECT source, b, {cms_u_spark("b")} AS u
          FROM (
            SELECT source,
                   explode(transform(sequence(1, size(toks) - 1),
                     i -> concat(element_at(toks, i), ' ',
                                 element_at(toks, i + 1)))) AS b
            FROM tok)
        ),
        stacked AS (
          SELECT source, {cms_stack_spark("u", w)} AS (i, bkt) FROM bg
        ),
        sk_src AS (
          SELECT source AS scope, i, bkt, COUNT(*) AS c
          FROM stacked GROUP BY source, i, bkt
        ),
        sk AS (
          SELECT scope, i, bkt, c FROM sk_src
          UNION ALL
          SELECT 'ALL', i, bkt, CAST(SUM(c) AS BIGINT) FROM sk_src GROUP BY i, bkt
        ),
        probes AS (
          SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS scope,
                 b, u, COUNT(*) AS exact_cnt
          FROM bg WHERE u % 11 = 0
          GROUP BY GROUPING SETS ((source, b, u), (b, u))
        ),
        pb AS (
          SELECT scope, b, exact_cnt, {cms_stack_spark("u", w)} AS (i, bkt)
          FROM probes
        ),
        est AS (
          SELECT p.scope, p.b, p.exact_cnt, MIN(s.c) AS cms_est
          FROM pb p JOIN sk s
            ON s.scope = p.scope AND s.i = p.i AND s.bkt = p.bkt
          GROUP BY p.scope, p.b, p.exact_cnt
        )
        SELECT scope, b AS bigram, exact_cnt, cms_est,
               cms_est >= exact_cnt AS overcount_ok
        FROM est
    """
    arms_build = cms_arms_duck("source,", "u", "bg", w)
    arms_probe = cms_arms_duck("scope, b, exact_cnt,", "u", "probes", w)
    duck_sql = f"""
    WITH tok AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    el AS (SELECT source, toks FROM tok WHERE len(toks) >= 2),
    bg0 AS (
      SELECT source, toks[i] || ' ' || toks[i + 1] AS b
      FROM (SELECT source, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i FROM el)
    ),
    bg AS (SELECT source, b, {cms_u_duck("b")} AS u FROM bg0),
    stacked AS (
      {arms_build}
    ),
    sk_src AS (
      SELECT source AS scope, i, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM stacked GROUP BY source, i, bkt
    ),
    sk AS (
      SELECT scope, i, bkt, c FROM sk_src
      UNION ALL
      SELECT 'ALL', i, bkt, CAST(SUM(c) AS BIGINT) FROM sk_src GROUP BY i, bkt
    ),
    probes AS (
      SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS scope,
             b, u, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM bg WHERE u % 11 = 0
      GROUP BY GROUPING SETS ((source, b, u), (b, u))
    ),
    pb AS (
      {arms_probe}
    ),
    est AS (
      SELECT p.scope, p.b, p.exact_cnt, MIN(s.c) AS cms_est
      FROM pb p JOIN sk s
        ON s.scope = p.scope AND s.i = p.i AND s.bkt = p.bkt
      GROUP BY p.scope, p.b, p.exact_cnt
    )
    SELECT scope, b AS bigram, exact_cnt, cms_est,
           cms_est >= exact_cnt AS overcount_ok
    FROM est
    """
    return spark_sql, duck_sql


_CMS_FREQ_SPARK_SQL, _CMS_FREQ_ORACLE = _cms_frequency_sqls()


@query(
    "agg_cms_frequency",
    oracle=_CMS_FREQ_ORACLE,
    tags=("agg", "approx", "sketch", "text"),
)
def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch POINT-FREQUENCY estimation (Cormode &
    Muthukrishnan '05; operators/sketches.py) over document token
    bigrams: per-source sketches (d=4 x w=512 counters each) are built
    in one corpus pass, MERGED to an 'ALL' sketch by counter-wise SUM —
    the mergeability that matters at 100 TB, where per-shard n-gram
    sketches roll up across shards/time windows with fixed-size state
    while exact counting would shuffle the full n-gram domain — and a
    deterministic probe set (bigrams with u % 11 = 0) is answered from
    the sketches alone: est = min over hash rows of the probed counter.

    HASH-EXACT oracle (stronger than the HLL/KLL bounded-check rows):
    the sketch is the repo's md5-60 + affine-permutation hash family,
    pure integer algebra DuckDB replays literally, so the driver
    compares the ESTIMATES value-for-value.  ``overcount_ok`` asserts
    the one-sided CMS guarantee est >= true (structurally TRUE: every
    occurrence of the probed bigram increments all d of its counters).

    Scale shape: build = explode + ONE hash aggregate (map-side combine
    folds each partition into <= d*w cells before the shuffle); merge =
    a <= |sources|*d*w-row rollup; probes ride an equi-join on
    (scope, i, bucket) against the counter relation — no corpus-sized
    state anywhere past the first aggregate.  Two corpus scans total
    (sketch build + probe exacts); the exact side exists only to
    exhibit the guarantee, production reads the sketch alone.  Cf.
    reference countries.py keyword frequencies — this is the
    fixed-state form of that count at corpus scale.

    Fixture invariant (shared with agg_topk_sketch and the 6 older
    sentinel-scoped rows): the merged-rollup scope label 'ALL' is a
    SENTINEL — no documents.source is literally named 'ALL' (asserted
    by tests/test_round10_ops.py::test_all_scope_sentinel_invariant);
    a corpus with such a source would silently merge it with the
    rollup row."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_CMS_FREQ_SPARK_SQL)


def _cms_join_size_sqls() -> tuple[str, str]:
    """(spark_sql, duckdb_oracle_sql) for agg_cms_join_size."""
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_W_JOIN,
        cms_arms_duck,
        cms_stack_spark,
        cms_u_duck,
        cms_u_spark,
    )

    w = CMS_W_JOIN
    u_l_spark = cms_u_spark("CAST(l_orderkey AS STRING)")
    u_o_spark = cms_u_spark("CAST(o_orderkey AS STRING)")
    u_l_duck = cms_u_duck("CAST(l_orderkey AS VARCHAR)")
    u_o_duck = cms_u_duck("CAST(o_orderkey AS VARCHAR)")
    spark_sql = f"""
        WITH skl AS (
          SELECT i, bkt, COUNT(*) AS c FROM (
            SELECT {cms_stack_spark("u", w)} AS (i, bkt)
            FROM (SELECT {u_l_spark} AS u FROM lineitem)
          ) GROUP BY i, bkt
        ),
        sko AS (
          SELECT i, bkt, COUNT(*) AS c FROM (
            SELECT {cms_stack_spark("u", w)} AS (i, bkt)
            FROM (SELECT {u_o_spark} AS u FROM orders)
          ) GROUP BY i, bkt
        ),
        ip AS (
          SELECT l.i, CAST(SUM(l.c * o.c) AS BIGINT) AS dot
          FROM skl l JOIN sko o ON l.i = o.i AND l.bkt = o.bkt
          GROUP BY l.i
        ),
        est AS (SELECT 1 AS k, MIN(dot) AS cms_join_rows FROM ip),
        exact AS (
          SELECT 1 AS k, COUNT(*) AS exact_join_rows
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT exact_join_rows, cms_join_rows,
               cms_join_rows >= exact_join_rows AS overcount_ok
        FROM exact JOIN est USING (k)
    """
    arms_l = cms_arms_duck("", "u", f"(SELECT {u_l_duck} AS u FROM lineitem) tl", w)
    arms_o = cms_arms_duck("", "u", f"(SELECT {u_o_duck} AS u FROM orders) to_", w)
    duck_sql = f"""
    WITH skl AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms_l}
      ) GROUP BY i, bkt
    ),
    sko AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms_o}
      ) GROUP BY i, bkt
    ),
    ip AS (
      SELECT l.i, CAST(SUM(l.c * o.c) AS BIGINT) AS dot
      FROM skl l JOIN sko o ON l.i = o.i AND l.bkt = o.bkt
      GROUP BY l.i
    ),
    est AS (SELECT 1 AS k, MIN(dot) AS cms_join_rows FROM ip),
    exact AS (
      SELECT 1 AS k, CAST(COUNT(*) AS BIGINT) AS exact_join_rows
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT exact_join_rows, cms_join_rows,
           cms_join_rows >= exact_join_rows AS overcount_ok
    FROM exact JOIN est USING (k)
    """
    return spark_sql, duck_sql


_CMS_JOIN_SPARK_SQL, _CMS_JOIN_ORACLE = _cms_join_size_sqls()


@query(
    "agg_cms_join_size",
    oracle=_CMS_JOIN_ORACLE,
    tags=("agg", "approx", "sketch", "join"),
)
def agg_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from two Count-Min sketches — the classic
    sketch inner product: |L join O on key| = sum_k fL(k)*fO(k) is
    estimated by min over hash rows of sum_b skL[row][b]*skO[row][b]
    (Cormode & Muthukrishnan '05 §4.2; operators/sketches.py).  This is
    the planner-grade capability behind the repo's broadcast/skew join
    decisions at 100 TB — and since r11 it actually DRIVES one:
    :func:`cms_adaptive_join` (join_cms_adaptive_strategy) consults
    exactly this estimate to pick broadcast vs shuffle-merge, with the
    decision oracle-replayed and both physical plans pinned.  Each side
    is summarized ONCE into d=4 x
    w=16384 counters (map-side combined hash aggregate, fixed size no
    matter the table size, mergeable across partitions by counter SUM),
    and any pairwise join cardinality between summarized tables is then
    answered from sketches alone — two tiny relations equi-joined on
    (i, bucket) — without touching the data again.

    HASH-EXACT oracle: the estimate is deterministic integer algebra on
    the engine-portable hash family, so DuckDB replays the exact
    estimate AND the exact true join size; ``overcount_ok`` states the
    one-sided guarantee est >= true (every true key pair lands in the
    same bucket in every row; colliding keys only ADD).  Expected
    overcount is |L|*|O|/w per hash row before the min — width is sized
    to the row-count product, the documented knob.

    Plan shape: two scans (one per side) -> two bounded hash
    aggregates; the inner product and the exact/est combine are joins
    of <= d*w-row and 1-row relations (the constant-key 1x1 join folds
    to a BroadcastNestedLoopJoin — allow-listed like
    agg_quantile_sketch's merged-sketch rollup)."""
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_CMS_JOIN_SPARK_SQL)


# ---------------------------------------------------------------------------
# Sketch-to-decision: a CMS-driven join-strategy pick (VERDICT r10 item
# 5) — the estimate agg_cms_join_size only EXHIBITS becomes an actual
# optimizer input here.
# ---------------------------------------------------------------------------

#: Lazily created root for the persisted sketch "statistics catalog"
#: (one subdir per fixture scale; overwritten per call so the stats can
#: never go stale relative to the fixture being queried).
_STATS_ROOT: str | None = None


def _stats_dir(sf_dir: str) -> str:
    # Single-threaded assumption: the driver/test harness runs queries
    # sequentially, so the overwrite-then-read of a catalog subpath is
    # never raced by a concurrent same-process call (r11 ADVICE item 2).
    global _STATS_ROOT
    if _STATS_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _STATS_ROOT = tempfile.mkdtemp(prefix="e2e_spark_cms_stats_")
        atexit.register(shutil.rmtree, _STATS_ROOT, ignore_errors=True)
    import hashlib
    import os

    # key on the FULL normalized path (leaf kept for readability): two
    # distinct fixture dirs sharing a basename must not collide on one
    # overwrite/read catalog path (r11 review finding)
    norm = os.path.normpath(os.path.abspath(sf_dir))
    leaf = os.path.basename(norm) or "sf"
    d = os.path.join(
        _STATS_ROOT, f"{leaf}-{hashlib.md5(norm.encode()).hexdigest()[:8]}"
    )
    os.makedirs(d, exist_ok=True)
    return d


def cms_adaptive_join(
    spark: SparkSession,
    sf_dir: str,
    output_threshold_rows: int = 1_000_000,
    build_threshold_rows: int = 1_000_000,
) -> DataFrame:
    """lineitem ⋈ orders('F') where the PHYSICAL JOIN STRATEGY is chosen
    by the Count-Min join-size estimate — the sketch-to-decision loop
    agg_cms_join_size's docstring promises ("the planner-grade
    capability behind broadcast/skew decisions"), closed:

    1. MAINTAIN: each side's join-key CMS (d=4 x w=16384 counters,
       operators/sketches.py) is built in one scan and PERSISTED to a
       parquet statistics catalog — the kilobyte-sized per-table stats a
       100 TB warehouse keeps alongside each table (here rebuilt per
       call so they can never be stale; production maintains them
       incrementally by counter addition, the CMS merge property).
    2. CONSULT: the planning probe reads ONLY the persisted counters —
       est_join_rows = min_i sum_b skL[i][b]*skO[i][b] (the inner
       product) and est_build_rows = sum(c)/d (every key increments
       exactly d counters, so this recovers the build side's row count
       exactly).  Two 1-row collects over <= d*w-row relations — the
       planner-statistic read, bounded and metadata-sized (documented
       for the collect audit; the DATA is never touched at plan time).
    3. DECIDE: broadcast the filtered build side iff BOTH estimates
       clear their thresholds; otherwise take a shuffle sort-merge
       join.  The output estimate matters even when the build side fits
       the broadcast budget: inner products blow up precisely on hot
       keys (sum f_L(k)*f_O(k)), so a large estimate against a small
       build side signals multiplicity skew — the regime where a
       shuffled join with AQE skew splitting beats a broadcast probe.
       Both branches are REAL at fixture scale: the deterministic
       estimates are 2,118 (sf0.001) / 37,082 (sf0.01) /
       2,015,163 (sf0.1) against the 1M default, so the driver's
       sf0.01 run takes the broadcast branch and the sf0.1 full-registry
       sweep takes the shuffle branch (tests/test_round11_ops.py pins
       each branch's physical plan via the threshold knobs).

    HASH-EXACT oracle including the DECISION: the estimates are
    deterministic integer algebra on the engine-portable hash family,
    so DuckDB replays est_join_rows, est_build_rows, and the CASE that
    picks ``join_strategy`` value-for-value; the aggregate itself is
    decision-invariant (both physical plans compute the same join), so
    every column is compared, not just asserted.

    Scale shape: one scan per side to refresh the stats (amortized away
    entirely when the catalog is maintained incrementally), then the
    chosen join's scan — filters pushed, the dim side pruned to
    o_orderkey alone (the status filter is applied before the
    projection, so the join carries a single column).  Nothing
    data-sized crosses the driver:
    the collects read 1-row aggregates of the counter relations."""
    import os

    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_JOIN,
        cms_stack_spark,
        cms_u_spark,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
        register_views,
    )

    register_views(spark, sf_dir, ("lineitem", "orders"))
    w = CMS_W_JOIN
    stats = _stats_dir(sf_dir)
    skl_path = os.path.join(stats, "sk_lineitem_orderkey")
    sko_path = os.path.join(stats, "sk_orders_f_orderkey")
    for path, src in (
        (skl_path, f"SELECT {cms_u_spark('CAST(l_orderkey AS STRING)')} AS u FROM lineitem"),
        (
            sko_path,
            f"SELECT {cms_u_spark('CAST(o_orderkey AS STRING)')} AS u "
            "FROM orders WHERE o_orderstatus = 'F'",
        ),
    ):
        spark.sql(
            f"""
            SELECT i, bkt, COUNT(*) AS c FROM (
              SELECT {cms_stack_spark("u", w)} AS (i, bkt) FROM ({src})
            ) GROUP BY i, bkt
            """
        ).coalesce(1).write.mode("overwrite").parquet(path)

    skl = spark.read.parquet(skl_path)
    sko = spark.read.parquet(sko_path)
    ip = (
        skl.alias("l")
        .join(sko.alias("o"), ["i", "bkt"])
        .groupBy("i")
        .agg(F.sum(F.col("l.c") * F.col("o.c")).alias("dot"))
    )
    # empty build side -> empty sketch -> NULL aggregates: estimate 0
    # (the join output is empty under either strategy, so the decision
    # is immaterial there — just don't crash on a valid empty filter)
    est_join_rows = int(ip.agg(F.min("dot")).collect()[0][0] or 0)
    est_build_rows = int(
        sko.agg(F.expr(f"sum(c) DIV {CMS_D}")).collect()[0][0] or 0
    )
    broadcastable = (
        est_build_rows <= build_threshold_rows
        and est_join_rows <= output_threshold_rows
    )

    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    joined = (
        li.join(F.broadcast(dim), li.l_orderkey == dim.o_orderkey)
        if broadcastable
        else li.join(dim.hint("merge"), li.l_orderkey == dim.o_orderkey)
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .withColumn("est_join_rows", F.lit(est_join_rows).cast("long"))
        .withColumn("est_build_rows", F.lit(est_build_rows).cast("long"))
        .withColumn(
            "join_strategy",
            F.lit("broadcast" if broadcastable else "shuffle_merge"),
        )
    )


def _cms_adaptive_oracle(
    output_threshold_rows: int = 1_000_000, build_threshold_rows: int = 1_000_000
) -> str:
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_JOIN,
        cms_arms_duck,
        cms_u_duck,
    )

    w = CMS_W_JOIN
    u_l = cms_u_duck("CAST(l_orderkey AS VARCHAR)")
    u_o = cms_u_duck("CAST(o_orderkey AS VARCHAR)")
    arms_l = cms_arms_duck("", "u", f"(SELECT {u_l} AS u FROM lineitem) tl", w)
    arms_o = cms_arms_duck(
        "",
        "u",
        f"(SELECT {u_o} AS u FROM orders WHERE o_orderstatus = 'F') to_",
        w,
    )
    return f"""
    WITH skl AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms_l}
      ) GROUP BY i, bkt
    ),
    sko AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms_o}
      ) GROUP BY i, bkt
    ),
    ip AS (
      SELECT l.i, CAST(SUM(l.c * o.c) AS BIGINT) AS dot
      FROM skl l JOIN sko o ON l.i = o.i AND l.bkt = o.bkt
      GROUP BY l.i
    ),
    est AS (
      -- COALESCE mirrors the engine's ``or 0`` empty-sketch guard so
      -- both sides agree on a degenerate (empty build) input: est 0 ->
      -- 'broadcast', never a NULL falling through CASE to
      -- 'shuffle_merge' (r11 ADVICE item 1)
      SELECT COALESCE((SELECT MIN(dot) FROM ip), 0) AS est_join_rows,
             COALESCE((SELECT CAST(SUM(c) // {CMS_D} AS BIGINT) FROM sko), 0)
               AS est_build_rows
    ),
    agg AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
       AND o.o_orderstatus = 'F'
      GROUP BY l_returnflag
    )
    SELECT a.l_returnflag, a.n_rows, a.revenue,
           e.est_join_rows, e.est_build_rows,
           CASE WHEN e.est_build_rows <= {build_threshold_rows}
                 AND e.est_join_rows <= {output_threshold_rows}
                THEN 'broadcast' ELSE 'shuffle_merge'
           END AS join_strategy
    FROM agg a, est e
    """


@query(
    "join_cms_adaptive_strategy",
    oracle=_cms_adaptive_oracle(),
    tags=("join", "sketch", "planner"),
)
def join_cms_adaptive_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`cms_adaptive_join` at the default
    thresholds — see that docstring for the maintain/consult/decide
    design, the per-scale decision table, and the collect-audit note."""
    return cms_adaptive_join(spark, sf_dir)


def cms_skew_routed_distinct(
    spark: SparkSession, sf_dir: str, reducer_share_parts: int = 32
) -> DataFrame:
    """Per-event-type (COUNT DISTINCT user, exact SUM) where the
    AGGREGATION STRATEGY is chosen by the Count-Min heavy-key estimate —
    the SKEW half of the sketch-to-decision loop (cms_adaptive_join is
    the broadcast half; together they close agg_cms_join_size's
    "broadcast/skew decisions" claim):

    1. MAINTAIN: the event_type CMS (d=4 x w=512) is built in one scan
       and persisted to the same parquet statistics catalog.
    2. CONSULT: two sketch reads, no data touched —
       ``est_max_key_rows = min_i max_b sk[i][b]`` (each hash row's max
       cell dominates the heaviest key's count, so the min over rows is
       a one-sided OVER-estimate of the heaviest key mass — with 5
       types in 512 buckets it recovers the exact max: 210 / 2,017 /
       20,302 at sf0.001/0.01/0.1) and ``est_total_rows = sum(c)/d``
       (exact).
    3. DECIDE: route to the explicit two-stage skew_resistant_agg iff
       ``est_max_key_rows * reducer_share_parts > est_total_rows`` —
       i.e. the heaviest key's distinct-set state would exceed an even
       reducer share, the regime where countDistinct's one-stage plan
       melts a single reducer at 100 TB (operators/scaling.py).  The
       fixture's 5 hot types trip the rule at every scale, so the
       registry row exercises the two-stage branch; the plan test
       forces the one-stage branch via the ``reducer_share_parts``
       knob and pins both plans (tests/test_round11_ops.py).

    HASH-EXACT oracle including the DECISION (same contract as
    cms_adaptive_join): estimates and the routing CASE are
    deterministic integer algebra DuckDB replays; the aggregate is
    decision-invariant because skew_resistant_agg is bit-equal to the
    one-stage plan by construction (exact fixed-point sum splits).

    Collect audit: two 1-row reads over a <= d*w-counter relation —
    planner statistics, metadata-sized."""
    import os

    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        skew_resistant_agg,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_FREQ,
        cms_stack_spark,
        cms_u_spark,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
        register_views,
    )

    register_views(spark, sf_dir, ("events",))
    w = CMS_W_FREQ
    sk_path = os.path.join(_stats_dir(sf_dir), "sk_events_event_type")
    spark.sql(
        f"""
        SELECT i, bkt, COUNT(*) AS c FROM (
          SELECT {cms_stack_spark("u", w)} AS (i, bkt)
          FROM (SELECT {cms_u_spark("event_type")} AS u FROM events)
        ) GROUP BY i, bkt
        """
    ).coalesce(1).write.mode("overwrite").parquet(sk_path)
    sk = spark.read.parquet(sk_path)
    rowmax = sk.groupBy("i").agg(F.max("c").alias("mx"))
    # empty input -> NULL aggregates: estimate 0 (result is empty under
    # either routing, so only the crash matters)
    est_max = int(rowmax.agg(F.min("mx")).collect()[0][0] or 0)
    est_total = int(sk.agg(F.expr(f"sum(c) DIV {CMS_D}")).collect()[0][0] or 0)
    two_stage = est_max * reducer_share_parts > est_total

    ev = load_table(spark, sf_dir, "events")
    if two_stage:
        agg = skew_resistant_agg(
            ev, keys=["event_type"], distinct_col="user_id", value_col="value"
        )
    else:
        agg = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_distinct"),
            dsum("value").alias("total_value"),
        )
    return (
        agg.withColumn("est_max_key_rows", F.lit(est_max).cast("long"))
        .withColumn("est_total_rows", F.lit(est_total).cast("long"))
        .withColumn(
            "agg_strategy", F.lit("two_stage" if two_stage else "one_stage")
        )
    )


def _cms_skew_oracle(reducer_share_parts: int = 32) -> str:
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_FREQ,
        cms_arms_duck,
        cms_u_duck,
    )

    w = CMS_W_FREQ
    arms = cms_arms_duck(
        "", "u", f"(SELECT {cms_u_duck('event_type')} AS u FROM events) te", w
    )
    return f"""
    WITH sk AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms}
      ) GROUP BY i, bkt
    ),
    rowmax AS (SELECT i, MAX(c) AS mx FROM sk GROUP BY i),
    est AS (
      -- COALESCE mirrors the engine's ``or 0`` empty-sketch guard (see
      -- _cms_adaptive_oracle) so an empty events table routes
      -- identically on both sides
      SELECT COALESCE((SELECT MIN(mx) FROM rowmax), 0) AS est_max_key_rows,
             COALESCE((SELECT CAST(SUM(c) // {CMS_D} AS BIGINT) FROM sk), 0)
               AS est_total_rows
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
             {sql_dsum("value")} AS total_value
      FROM events GROUP BY event_type
    )
    SELECT a.event_type, a.n_distinct, a.total_value,
           e.est_max_key_rows, e.est_total_rows,
           CASE WHEN e.est_max_key_rows * {reducer_share_parts}
                     > e.est_total_rows
                THEN 'two_stage' ELSE 'one_stage'
           END AS agg_strategy
    FROM agg a, est e
    """


@query(
    "agg_cms_skew_routing",
    oracle=_cms_skew_oracle(),
    tags=("agg", "sketch", "skew", "planner"),
)
def agg_cms_skew_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`cms_skew_routed_distinct` at the
    default reducer-share rule — see that docstring for the
    maintain/consult/decide design and the per-scale estimates."""
    return cms_skew_routed_distinct(spark, sf_dir)


def cms_salt_routed_join(
    spark: SparkSession,
    sf_dir: str,
    reducer_share_parts: int = 32,
    salt_buckets: int = 8,
) -> DataFrame:
    """events ⋈ event-type dim where PLAIN vs SALTED join is chosen by
    the Count-Min heavy-key estimate on the JOIN key — the join half of
    the skew story (VERDICT r11 item 6).  r11 routed aggregation skew
    (cms_skew_routed_distinct); the join-skew mitigation
    (operators/scaling.salted_join, exhibited by join_salted_skew) was
    still picked MANUALLY.  This closes it with the same
    maintain/consult/decide recipe:

    1. MAINTAIN: the event_type CMS (d=4 x w=512) is built in one scan
       and persisted to the statistics catalog — the SAME (table,
       column) statistic cms_skew_routed_distinct consults, because a
       per-column sketch catalog serves every decision that keys on
       that column (here rebuilt per call; production maintains it
       incrementally by counter addition).
    2. CONSULT: ``est_max_key_rows = min_i max_b sk[i][b]`` (one-sided
       over-estimate of the heaviest join-key mass; exact at fixture
       cardinality: 210 / 2,017 / 20,302 at sf0.001/0.01/0.1) and
       ``est_total_rows = sum(c)/d`` (exact).  Two 1-row collects over
       a <= d*w-counter relation — planner statistics, metadata-sized.
    3. DECIDE: route to :func:`~...operators.scaling.salted_join` iff
       ``est_max_key_rows * reducer_share_parts > est_total_rows`` —
       the heaviest key's probe rows would exceed an even reducer
       share, the regime where one shuffle partition melts at 100 TB.
       Salting spreads that key over ``salt_buckets`` reducers at the
       cost of replicating the dim once per salt.  The fixture's 5 hot
       types trip the rule at every scale, so the registry row
       exercises the SALTED branch; the plan test forces the plain
       branch via the ``reducer_share_parts`` knob and pins both plans
       (tests/test_round12_ops.py).  Honest scale note: THIS dim (5
       rows) would broadcast at any scale — the decision matters when
       the dim exceeds the broadcast budget and a shuffle join is
       forced, which is exactly when the hot partition exists; the
       fixture demonstrates the routing, not the regime.

    HASH-EXACT oracle including the DECISION (same contract as the
    other two decision queries): the estimates and the routing CASE are
    deterministic integer algebra DuckDB replays; the aggregate is
    decision-invariant because salting never changes join semantics —
    each fact row still meets each matching dim row exactly once (the
    replica carrying its salt), so the oracle replays the PLAIN join.

    Collect audit: two 1-row reads over a <= d*w-counter relation."""
    import os

    from end_to_end_data_engineering_project_with_databricks_spark.operators.scaling import (
        salted_join,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_FREQ,
        cms_stack_spark,
        cms_u_spark,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import (
        load_table,
        register_views,
    )

    register_views(spark, sf_dir, ("events",))
    w = CMS_W_FREQ
    sk_path = os.path.join(_stats_dir(sf_dir), "sk_events_event_type")
    spark.sql(
        f"""
        SELECT i, bkt, COUNT(*) AS c FROM (
          SELECT {cms_stack_spark("u", w)} AS (i, bkt)
          FROM (SELECT {cms_u_spark("event_type")} AS u FROM events)
        ) GROUP BY i, bkt
        """
    ).coalesce(1).write.mode("overwrite").parquet(sk_path)
    sk = spark.read.parquet(sk_path)
    rowmax = sk.groupBy("i").agg(F.max("c").alias("mx"))
    # empty input -> NULL aggregates: estimate 0 (join output empty
    # under either routing; see cms_adaptive_join)
    est_max = int(rowmax.agg(F.min("mx")).collect()[0][0] or 0)
    est_total = int(sk.agg(F.expr(f"sum(c) DIV {CMS_D}")).collect()[0][0] or 0)
    salted = est_max * reducer_share_parts > est_total

    ev = load_table(spark, sf_dir, "events")
    # the dim side: distinct event types with a derived attribute (in
    # production a real dimension table; derived here so the oracle
    # replays it exactly)
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("d_event_type"),
            F.length("event_type").cast("int").alias("type_weight"),
        )
    )
    if salted:
        joined = salted_join(
            ev,
            dim,
            "event_type",
            "d_event_type",
            salt_buckets=salt_buckets,
            salt_source="event_id",
        )
    else:
        joined = ev.join(dim, F.col("event_type") == F.col("d_event_type"))
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value") * F.col("type_weight")).alias("weighted_value"),
        )
        .withColumn("est_max_key_rows", F.lit(est_max).cast("long"))
        .withColumn("est_total_rows", F.lit(est_total).cast("long"))
        .withColumn("join_strategy", F.lit("salted" if salted else "plain"))
    )


def _cms_salt_oracle(reducer_share_parts: int = 32) -> str:
    from end_to_end_data_engineering_project_with_databricks_spark.operators.sketches import (
        CMS_D,
        CMS_W_FREQ,
        cms_arms_duck,
        cms_u_duck,
    )

    w = CMS_W_FREQ
    arms = cms_arms_duck(
        "", "u", f"(SELECT {cms_u_duck('event_type')} AS u FROM events) te", w
    )
    return f"""
    WITH sk AS (
      SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM (
      {arms}
      ) GROUP BY i, bkt
    ),
    rowmax AS (SELECT i, MAX(c) AS mx FROM sk GROUP BY i),
    est AS (
      -- COALESCE mirrors the engine's ``or 0`` empty-sketch guard
      SELECT COALESCE((SELECT MIN(mx) FROM rowmax), 0) AS est_max_key_rows,
             COALESCE((SELECT CAST(SUM(c) // {CMS_D} AS BIGINT) FROM sk), 0)
               AS est_total_rows
    ),
    dim AS (
      SELECT DISTINCT event_type AS d_event_type,
             CAST(LENGTH(event_type) AS INT) AS type_weight
      FROM events
    ),
    agg AS (
      SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             {sql_dsum("e.value * d.type_weight")} AS weighted_value
      FROM events e JOIN dim d ON e.event_type = d.d_event_type
      GROUP BY e.event_type
    )
    SELECT a.event_type, a.n_events, a.weighted_value,
           e.est_max_key_rows, e.est_total_rows,
           CASE WHEN e.est_max_key_rows * {reducer_share_parts}
                     > e.est_total_rows
                THEN 'salted' ELSE 'plain'
           END AS join_strategy
    FROM agg a, est e
    """


@query(
    "join_cms_skew_salting",
    oracle=_cms_salt_oracle(),
    tags=("join", "sketch", "skew", "planner"),
)
def join_cms_skew_salting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`cms_salt_routed_join` at the default
    reducer-share rule — see that docstring for the
    maintain/consult/decide design; with cms_adaptive_join (broadcast
    half) and cms_skew_routed_distinct (aggregation half) this
    completes agg_cms_join_size's "broadcast/skew decisions" claim
    literally."""
    return cms_salt_routed_join(spark, sf_dir)
