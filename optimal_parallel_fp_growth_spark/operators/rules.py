"""Association-rule generation as pure DataFrame operations.

Reproduces ``epfp/AssociationRules.scala:58-82`` +
``epfp/FPGrowth.scala:169-193`` declaratively:

1. every frequent itemset of size ≥ 2 explodes into single-consequent
   candidates ``(antecedent = items − item, consequent = [item])``
   (``items.partition(_ == item)``, AssociationRules.scala:61-70);
2. candidates equi-join the itemset table on the antecedent array to get
   the antecedent frequency (AssociationRules.scala:73);
3. ``confidence = freq(a∪c)/freq(a)`` filtered at minConfidence
   (AssociationRules.scala:81), ``lift = confidence / support(c)``
   (nullable, AssociationRules.scala:114), ``support = freq(a∪c)/N``
   (FPGrowth.scala:182).

Scale: both joins key on the *frequent itemset table*, whose size is
bounded by minSupport, not by input rows — at 100 TB input this is a
dim-table join; Catalyst/AQE broadcast it. No collect() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def association_rules(
    freq_itemsets: DataFrame,
    num_transactions: int,
    min_confidence: float = 0.8,
) -> DataFrame:
    """freq_itemsets: (items: array sorted canonically, freq: long) →
    (antecedent, consequent, confidence, lift, support).

    Items arrays MUST be canonically sorted (array_sort) on input: the
    antecedent equi-join compares arrays by value, and dropping one
    position of a sorted array leaves it sorted, so no re-sort is needed
    at join time.
    """
    if not 0.0 <= min_confidence <= 1.0:
        raise ValueError(f"minConfidence must be in [0,1] but got {min_confidence}")

    itemsets = freq_itemsets.select("items", "freq")

    # (1) candidate generation: one row per (itemset, member position).
    # The antecedent drops the consequent by position, so a null item is
    # removed like any other (array_remove(items, null) would be null).
    candidates = (
        itemsets.where(F.size("items") >= 2)
        .select(
            F.col("items"),
            F.col("freq").alias("freq_union"),
            F.posexplode("items").alias("pos", "item"),
        )
        .select(
            F.filter("items", lambda _, i: i != F.col("pos")).alias("antecedent"),
            F.array(F.col("item")).alias("consequent"),
            F.col("freq_union"),
        )
    )

    # (2) antecedent frequency via array-keyed equi-join
    antecedent_freq = itemsets.select(
        F.col("items").alias("antecedent"), F.col("freq").alias("freq_antecedent")
    )
    joined = candidates.join(antecedent_freq, on="antecedent", how="inner")

    # (3) consequent support for lift — left join so unknown consequents
    # yield null lift (parity with r.lift.orNull, FPGrowth.scala:181). The
    # key is the one-item array: array keys match null elements, a scalar
    # null key matches nothing.
    consequent_support = (
        itemsets.where(F.size("items") == 1)
        .select(
            F.col("items").alias("consequent"),
            (F.col("freq") / F.lit(float(num_transactions))).alias("support_consequent"),
        )
    )
    rules = (
        joined.join(F.broadcast(consequent_support), on="consequent", how="left")
        .select(
            "antecedent",
            "consequent",
            (F.col("freq_union") / F.col("freq_antecedent")).alias("confidence"),
            (F.col("freq_union") / F.col("freq_antecedent") / F.col("support_consequent")).alias("lift"),
            (F.col("freq_union") / F.lit(float(num_transactions))).alias("support"),
        )
        .where(F.col("confidence") >= F.lit(min_confidence))
    )
    return rules
