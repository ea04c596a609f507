"""Rule application / prediction — reference-parity ``model.transform``.

Reproduces ``epfp/FPGrowth.scala:123-150``: for each input basket, take
every rule whose antecedent ⊆ basket, order by lift desc, emit the
consequent items deduped (first = highest lift wins), minus items the
basket already owns, as BOTH an array (``prediction_items``) and the
reference's ", "-joined string (``mkString(", ")``, FPGrowth.scala:144,
which renders a null item as ``null``).

A prediction depends only on its own basket, so the reference collects
the rules and broadcasts them into a row-at-a-time function
(FPGrowth.scala:124-148). We keep that physical shape with built-in
functions only (whole-stage codegen, no Python UDF):

- the rules are packed into ONE row, an array sorted once per call into
  the total order (lift desc, null lift last, then consequent asc);
- that row is broadcast and cross-joined onto the dataset (a
  ``BroadcastNestedLoopJoin`` against a single row);
- each row filters the array with the subset and ownership predicates
  and keeps the first occurrence of each consequent.

The dataset side is a pure projection: no shuffle, no aggregate, and its
rows, their multiplicity and their extra columns pass through unchanged.
The only exchanges are on the one-row rule side.

Tie-break: the reference's ``sortBy(lift desc)`` is unstable under lift
ties; we define the total order (lift desc, consequent asc) documented in
SURVEY §7.4 so output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.functions.arrays import (
    array_has,
    array_subset_of,
)


def transform_with_rules(
    dataset: DataFrame,
    rules: DataFrame,
    items_col: str = "items",
    prediction_col: str = "prediction",
    keep_array: bool = True,
) -> DataFrame:
    """Append ``prediction_col`` (string) and optionally
    ``{prediction_col}_items`` (array) to ``dataset``.

    ``rules`` must have (antecedent: array, consequent: array[1], lift).
    Null baskets predict null (FPGrowth.scala:146); baskets matching no
    rule predict [] / "" (the reference's empty-string quirk,
    pfp/PFP.scala:48). ``{prediction_col}_items`` has the rules' item
    type, i.e. the basket's element type for a model fitted on it.
    """
    items_out = f"{prediction_col}_items"
    for c in (prediction_col, items_out):
        if c in dataset.columns:
            raise ValueError(f"output column {c!r} already exists in dataset")

    # One row: every rule in the total order. Null lift → +inf sort key,
    # so it sorts last; array_sort over an empty rule set gives [].
    ranked = rules.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.coalesce(F.col("lift"), F.lit(float("-inf")))).alias("neg_lift"),
                    F.element_at("consequent", 1).alias("item"),
                    F.col("antecedent"),
                )
            )
        ).alias("__rules")
    )

    basket = F.col(items_col)
    matched = F.filter(
        "__rules",
        lambda r: array_subset_of(r["antecedent"], basket) & ~array_has(basket, r["item"]),
    )
    # array_distinct keeps the first (= highest-lift) occurrence of each item.
    out = (
        dataset.crossJoin(F.broadcast(ranked))
        .withColumn(
            items_out,
            F.when(basket.isNotNull(), F.array_distinct(F.transform(matched, lambda r: r["item"]))),
        )
        .withColumn(prediction_col, F.array_join(items_out, ", ", "null"))
        .drop("__rules")
    )
    return out if keep_array else out.drop(items_out)
