"""goskyr's relational content demonstrated as DataFrame queries over the
driver's TPC-H-ish tables (SURVEY.md §2.6 mapping). Each function is one
``queries()`` entry with a DuckDB oracle in ``__spark_entry__.py``.

Scale notes (100 TB discipline):
* dimension sides (customer, part) are broadcast — no shuffle of the
  fact side beyond its own aggregation keys;
* top-k-per-key uses the same two-phase salted window as the politeness
  scheduler when cardinality is skewed — here the plain window is shown
  because custkey cardinality ~ uniform;
* every function selects only the columns it emits (column pruning
  reaches the parquet scan — verified via ``.explain`` in
  tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def merge_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 MergeRecords (``/root/reference/output/record.go:36-73``): copy
    secondary-scraper fields into primary records by key — a broadcast
    left hash join."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
            "left",
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("customer_segment"),
        )
    )


def detail_page_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 DetailPages (``scrape/scrape.go:2327-2403``): follow each
    record's URL-field to a detail row; merged fields come back prefixed
    ``<field>__<name>`` (``scrape/scrape.go:2456-2461``)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_name", "p_brand")),
            lineitem["l_partkey"] == part["p_partkey"],
            "left",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.col("p_name").alias("part__name"),
            F.col("p_brand").alias("part__brand"),
        )
    )


def politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host budgeted priority queue (north_star): top-2 per key by
    priority with a total-order tiebreak — ``row_number() <= budget``."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("visit_rank", F.row_number().over(w))
        .filter(F.col("visit_rank") <= 2)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("totalprice"), "visit_rank")
    )


def squash_min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G3 squash + min-count (``generate/analyze.go:567-599,945-957``):
    groupBy path-pattern, count, HAVING count >= minOcc — partial
    aggregation map-side, one shuffle on the group key."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .filter(F.col("occurrences") >= 5)
    )


def static_field_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 static-field filter (``generate/analyze.go:1002-1016``): keep
    groups whose example values VARY (distinct count > 1)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .filter(F.col("n_users") > 1)
    )


def guess_year_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """guessYear's stateful ordered scan (``scrape/scrape.go:1262-1290``):
    each row consults the previous row's resolved value — ``lag`` over an
    explicit ordering (Spark has no implicit row order)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("gap_sec"),
    )


def pagination_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 union of per-page record sets + dedup
    (``generate/generate.go:872-964``)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    b = orders.filter(F.col("o_totalprice") > 200000)
    return (
        a.unionByName(b)
        .dropDuplicates(["o_orderkey"])
        .select("o_orderkey", "o_custkey", F.col("o_orderpriority").alias("priority"))
    )
