"""Array/set predicates used by the mining operators.

Both are built-in-function compositions (JVM-side, whole-stage codegen) —
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def has_duplicate_items(items: Column | str) -> Column:
    """True when a basket contains repeated items."""
    c = F.col(items) if isinstance(items, str) else items
    return F.size(c) != F.size(F.array_distinct(c))


def validate_unique_items(df: DataFrame, items_col: str = "items") -> None:
    """Raise if any basket has duplicate items — parity with the uniqueness
    exception at epfp/FPGrowthCore.scala:77-81.

    Scale note: this is a single codegen'd filter + limit-1 probe, not a
    full count — it short-circuits as soon as one offending row is found.
    """
    bad = df.where(has_duplicate_items(items_col)).limit(1).collect()
    if bad:
        raise ValueError(
            f"Items in a transaction must be unique but got {bad[0][items_col]!r}"
        )
