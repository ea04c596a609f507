"""Frequent-item counting — parity with ``genFreqItems``
(epfp/FPGrowthCore.scala:73-88) and ``WordCountDemo.scala:26-28``.

Pure declarative plan: explode → hash-aggregate (Catalyst plans
partial+final, i.e. map-side combine like the reference's
``reduceByKey``) → HAVING ≥ minCount → sort desc. Unlike the reference we
do NOT collect to the driver to sort (epfp/FPGrowthCore.scala:86) — the
result stays a DataFrame, which is the 100 TB-safe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def freq_items(
    transactions: DataFrame,
    items_col: str = "items",
    min_support: float = 0.3,
    num_transactions: int | None = None,
) -> DataFrame:
    """(item, freq) for items with freq ≥ ceil(min_support · N),
    frequency-descending (the FP rank order). Null baskets are dropped
    before N is counted, as in ``FPGrowth.fit``."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import min_count_for

    transactions = transactions.where(F.col(items_col).isNotNull())
    n = num_transactions if num_transactions is not None else transactions.count()
    min_count = min_count_for(min_support, n)
    return (
        transactions.select(F.explode(items_col).alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= min_count)
        .orderBy(F.desc("freq"), F.asc("item"))
    )


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Raw token counts (no per-line dedup) — WordCountDemo parity."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
    )
