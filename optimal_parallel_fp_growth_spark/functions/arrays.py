"""Array/set predicates used by the mining operators.

All are built-in-function compositions (JVM-side, whole-stage codegen) —
no Python UDFs in these hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def array_has(arr: Column | str, item: Column | str) -> Column:
    """Null-safe ``item ∈ arr``: a null item matches a null element, and
    a null element never hides a non-null item (``array_contains`` alone
    answers null there). False when ``arr`` is null and ``item`` is not."""
    arr, item = _col(arr), _col(item)
    return F.coalesce(
        F.array_contains(arr, item),
        item.isNull() & F.exists(arr, lambda e: e.isNull()),
    )


def array_subset_of(subset: Column | str, superset: Column | str) -> Column:
    """``subset ⊆ superset`` — the reference's rule-applicability predicate
    (``_._1.forall(itemset.contains)``, epfp/FPGrowth.scala:143), with
    null-safe membership (``array_has``)."""
    superset = _col(superset)
    return F.forall(_col(subset), lambda x: array_has(superset, x))


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
