"""Rule application / prediction — reference-parity ``model.transform``.

Reproduces ``epfp/FPGrowth.scala:123-150``: for each input basket, take
every rule whose antecedent ⊆ basket, order by lift desc, emit the
consequent items deduped (first = highest lift wins), minus items the
basket already owns, as BOTH an array (``prediction_items``) and the
reference's ", "-joined string (``mkString(", ")``, FPGrowth.scala:144).

The reference collects the rules to the driver and broadcasts them into a
row-at-a-time UDF (FPGrowth.scala:124-148). We keep the same physical
shape — rules are the small side — but stay declarative: a broadcast
nested-loop join with an ``array_except``-subset theta predicate, then a
per-row ordered re-aggregation. Everything is built-in functions
(whole-stage codegen); no Python UDF.

Tie-break: the reference's ``sortBy(lift desc)`` is unstable under lift
ties; we define the total order (lift desc, consequent asc) documented in
SURVEY §7.4 so output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.functions.arrays import array_subset_of


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
    pfp/PFP.scala:48).

    Physical shape: the prediction is a pure function of the basket, so
    we evaluate the (broadcast) rule nested-loop join once per DISTINCT
    basket and equi-join the results back on the array key — smaller NLJ
    input than per-row, and multiplicity/extra columns of ``dataset`` are
    preserved by the join-back.
    """
    for c in (prediction_col, f"{prediction_col}_items"):
        if c in dataset.columns:
            raise ValueError(f"output column {c!r} already exists in dataset")

    baskets = (
        dataset.select(F.col(items_col).alias("__basket"))
        .where(F.col("__basket").isNotNull())
        .distinct()
    )

    flat_rules = rules.select(
        F.col("antecedent"),
        F.element_at("consequent", 1).alias("consequent_item"),
        F.col("lift"),
    )

    # Broadcast NL join: rules are bounded (collected+broadcast in the
    # reference too); the subset predicate stays JVM-side.
    matched = baskets.join(
        F.broadcast(flat_rules),
        array_subset_of("antecedent", "__basket")
        & ~F.array_contains(F.col("__basket"), F.col("consequent_item")),
        "inner",
    )

    # Ordered, deduped consequents per basket: collect (lift desc, item
    # asc) structs, array_sort gives the total order, array_distinct keeps
    # the first (= highest-lift) occurrence of each item.
    preds = (
        matched.groupBy("__basket")
        .agg(
            F.array_distinct(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                # Null lift → -inf priority (sorts
                                # last); without the coalesce a null
                                # neg_lift would sort FIRST here.
                                (-F.coalesce(
                                    F.col("lift"),
                                    F.lit(float("-inf")),
                                )).alias("neg_lift"),
                                F.col("consequent_item").alias("item"),
                            )
                        )
                    ),
                    lambda s: s["item"],
                )
            ).alias("__pred_items")
        )
    )

    out = (
        dataset.join(preds, F.col(items_col).eqNullSafe(F.col("__basket")), "left")
        .drop("__basket")
        .withColumn(
            "__pred_items",
            F.when(F.col(items_col).isNull(), F.lit(None).cast("array<string>"))
            .otherwise(F.coalesce(F.col("__pred_items"), F.array().cast("array<string>"))),
        )
        .withColumn(
            prediction_col,
            F.when(F.col(items_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(F.col("__pred_items"), ", ")),
        )
    )
    if keep_array:
        out = out.withColumnRenamed("__pred_items", f"{prediction_col}_items")
    else:
        out = out.drop("__pred_items")
    return out

