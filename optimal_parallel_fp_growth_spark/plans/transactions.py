"""Canonical basket derivations from the test tables (FIXTURES.md F3).

The reference's data model is a single ``items: array<string>`` column
(``epfp/FPGrowth.scala:62``); these builders produce that shape from the
relational test tables. All are single-shuffle groupBy aggregations with
map-side partial aggregation (Catalyst plans ``HashAggregate(partial)`` →
exchange → ``HashAggregate(final)``), which is the plan that survives a
100 TB lineitem: the shuffle carries one (key, partial-set) pair per
map task, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.functions.layout import fan_out_scan
from optimal_parallel_fp_growth_spark.sources.catalog import load_table

# Every builder fans out a single-split scan (functions/layout.py)
# before its per-row work. Keyed on the basket key where one exists:
# with a matching partition count Catalyst reuses that exchange for the
# downstream groupBy, so the repaired plan still has ONE shuffle — and
# on a healthy many-split scan fan_out_scan is a no-op, preserving the
# map-side partial aggregation that matters at 100 TB.


def transactions_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basket = the distinct parts of one order.

    ``lineitem → groupBy(l_orderkey) → sort_array(collect_set(l_partkey as string))``.
    Only (l_orderkey, l_partkey) are read — column pruning reaches the scan.
    """
    li = fan_out_scan(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set(F.col("l_partkey").cast("string"))).alias("items")
    )


def transactions_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basket = the distinct event types of one (user, day).

    Dense small-alphabet baskets — the mining-friendly fixture.
    """
    ev = fan_out_scan(
        load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type"),
        "user_id",
    )
    return (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sort_array(F.collect_set("event_type")).alias("items"))
    )


def transactions_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basket = the distinct space-separated tokens of one document, split
    as the oracle's DuckDB ``string_split`` (not as Java's, sources/text.py)."""
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("items")
    )


def transactions_from_documents_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same token baskets keyed by language — the grouped-mining shape
    (one independent corpus per ``lang``) for
    :func:`~optimal_parallel_fp_growth_spark.operators.pfp_kernel.mine_pandas_by`."""
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    return docs.select(
        "lang", F.array_distinct(F.split(F.col("text"), " ")).alias("items")
    )
