"""Apriori-equivalence query — correctness cross-check, not a kernel.

The reference's ``apriori/Apriori.scala`` is driver-side (collect()s the
whole dataset, Apriori.scala:63); we re-express its *semantics* as a
distributed self-join candidate-generation plan, keeping its two
documented quirks (SURVEY §3.4):

- the support threshold uses ``floor`` (Apriori.scala:73), not the
  FP-Growth path's ``ceil``;
- only 1⇒1 rules, scored ``confidence / rawCount(consequent)``
  (Apriori.scala:125) — confidence divided by the consequent's absolute
  count, an unnormalized lift-like metric.

Plan shape: each of the input's baskets (operators/itemcount.py) is
sorted once; in-basket pair generation pairs its items in
position order with array higher-order functions (``transform``/
``slice``/``flatten`` — pure codegen, no row ids, no self-join) →
explode → partial+final hash agg ≥ floor(s·N) → two null-safe broadcast
joins against the frequent-singleton table for the metric. A null
element is an item like any other. At 100 TB the pair blow-up is
size(basket)²/2 rows *map-side*, combined by partial aggregation before
the one shuffle — strictly less traffic than a basket-keyed self-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.itemcount import baskets


def apriori_one_to_one_rules(
    transactions: DataFrame,
    min_support: float = 0.1,
    min_confidence: float = 0.2,
) -> DataFrame:
    """→ (antecedent: string, consequent: string, confidence, score)
    where score is the reference's confidence/rawCount quirk metric."""
    tx = baskets(transactions).select(F.array_sort("items").alias("items"))
    min_count = int(math.floor(min_support * tx.count()))

    singles = (
        tx.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= min_count)
    )

    # all unordered in-basket pairs, generated array-side (codegen):
    # for each position i, pair items[i] with every later element. The
    # basket is sorted, so each pair comes in one order; least/greatest
    # would skip a null element and pair an item with itself.
    pair_expr = F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items) - i - 1), y -> "
        "struct(x AS ia, y AS ib))))"
    )
    pairs = (
        tx.select(F.explode(pair_expr).alias("pr"))
        .groupBy(F.col("pr.ia").alias("ia"), F.col("pr.ib").alias("ib"))
        .agg(F.count("*").alias("freq_pair"))
        .where(F.col("freq_pair") >= min_count)
    )

    # both directions a⇒b and b⇒a from each unordered frequent pair
    directed = pairs.select(
        F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"), "freq_pair"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("antecedent"), F.col("ia").alias("consequent"), "freq_pair"
        )
    )

    # null-safe: a null item's rules must find its singleton
    sa = singles.select(F.col("item").alias("a_item"), F.col("freq").alias("freq_a"))
    sc_ = singles.select(F.col("item").alias("c_item"), F.col("freq").alias("freq_c"))
    return (
        directed.join(F.broadcast(sa), F.col("antecedent").eqNullSafe(F.col("a_item")))
        .join(F.broadcast(sc_), F.col("consequent").eqNullSafe(F.col("c_item")))
        .select(
            "antecedent",
            "consequent",
            (F.col("freq_pair") / F.col("freq_a")).alias("confidence"),
            (F.col("freq_pair") / F.col("freq_a") / F.col("freq_c")).alias("score"),
        )
        .where(F.col("confidence") >= F.lit(min_confidence))
    )
