"""Baskets and frequent-item counting — parity with ``genFreqItems``
(epfp/FPGrowthCore.scala:73-88) and ``WordCountDemo.scala:26-28``.

:func:`baskets` is the basket contract of every FPM operator (``fit``,
the PFP kernel, :func:`freq_items`, Apriori): a basket is a set, as the
reference's loader takes ``t.split(" ").distinct`` (epfp/EPFP.scala:26);
a null basket is no transaction, and a null element is an item.

:func:`freq_items`: explode → hash-aggregate (partial+final, the
reference's ``reduceByKey``) → HAVING ≥ minCount → sort desc, kept as a
DataFrame rather than collected to sort (epfp/FPGrowthCore.scala:86).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def baskets(df: DataFrame, *keys: Column) -> DataFrame:
    """(keys…, items): ``df``'s ``items`` column with repeated items
    counted once, without the rows whose basket or key is null."""
    return df.select(*keys, "items").dropna().withColumn("items", F.array_distinct("items"))


def freq_items(transactions: DataFrame, min_support: float = 0.3) -> DataFrame:
    """(item, freq) for items with freq ≥ ceil(min_support · N) over the
    baskets, frequency-descending (the FP rank order)."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import min_count_for

    tx = baskets(transactions)
    min_count = min_count_for(min_support, tx.count())
    return (
        tx.select(F.explode("items").alias("item"))
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
