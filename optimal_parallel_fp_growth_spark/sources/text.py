"""Text-file basket source — parity with the reference's loader.

Reference: ``epfp/EPFP.scala:26-27`` reads a text file and maps each line
``t => t.split(" ").distinct`` into an ``items`` column. We express the
same thing declaratively so it stays inside whole-stage codegen:
``spark.read.text`` → ``array_distinct(split(rtrim(...)))``. Spark's
split keeps the trailing empty strings that Java's drops, hence the
``rtrim``: ``"a b "`` is ``[a, b]``, ``"  "`` is ``[]`` and ``""`` is ``[""]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_baskets_text(spark: SparkSession, path: str) -> DataFrame:
    """One line = one basket; tokens split on ' ', deduped within the line."""
    line = F.col("value")
    stripped = F.rtrim(line)
    tokens = F.when((stripped == "") & (line != ""), F.array()).otherwise(
        F.split(stripped, " ")
    )
    return spark.read.text(path).select(F.array_distinct(tokens).alias("items"))
