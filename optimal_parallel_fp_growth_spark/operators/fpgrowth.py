"""FP-Growth frequent-itemset mining — the engine's flagship operator.

API mirrors the reference wrapper ``epfp/FPGrowth.scala:17-53``
(itemsCol / predictionCol / minSupport / minConfidence / numPartitions)
with two interchangeable kernels:

- ``kernel="mllib"`` (default): delegates to ``pyspark.ml.fpm.FPGrowth``,
  which is literally the upstream of the reference's ``pfp/`` package
  (SURVEY §0) — JVM-side PFP with map-side tree combine, the kernel we'd
  run at 100 TB.
- ``kernel="pandas"``: self-contained pure-PySpark Parallel FP-Growth
  (``applyInPandas`` grouped mining) including the reference's EPFP
  balanced partitioner (``epfp/BalancedPartitioner.scala:14-46``) —
  see operators/pfp_kernel.py.

Model outputs are canonicalized (``array_sort(items)``) so the two
kernels, the DuckDB oracle, and the reference agree modulo emission order
(SURVEY §7.4).

Mining is the only distributed work of a fit. Like the reference, which
keeps ``itemSupport`` as a driver map and collects its rules for the
broadcast (``epfp/FPGrowth.scala:93-127``), ``fit`` collects the
canonical itemsets once and serves them, and the rules derived from them
on the driver (operators/rules.py), as local relations: collecting
either runs no Spark job.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.itemcount import baskets
from optimal_parallel_fp_growth_spark.operators.rules import association_rules, local_frame
from optimal_parallel_fp_growth_spark.operators.transform import (
    release_rule_index,
    transform_with_rules,
)


def min_count_for(min_support: float, n: int) -> int:
    """minCount = ceil(minSupport · N) — epfp/FPGrowthCore.scala:54."""
    return int(math.ceil(min_support * n))


class FPGrowthModel:
    """Fitted model: frequent itemsets + derived rules + transform.

    Mirrors ``epfp/FPGrowth.scala:112-165`` (model = itemsets DF +
    itemSupport + numTrainingRecords). The itemsets are a local relation
    on the driver, the reference's driver-side itemSupport; their number
    is bounded by minSupport, not by the input rows.
    """

    def __init__(self, freq_itemsets: DataFrame, num_transactions: int,
                 items_col: str = "items", prediction_col: str = "prediction",
                 min_confidence: float = 0.8):
        self.freq_itemsets = freq_itemsets
        self.num_transactions = num_transactions
        self.items_col = items_col
        self.prediction_col = prediction_col
        # The estimator's minConfidence rides along on the fitted model
        # (epfp/FPGrowth.scala genericFit → .setMinConfidence), so
        # FPGrowth(min_confidence=x).fit(df).transform(df) applies x,
        # not a hard-coded default.
        self.min_confidence = min_confidence
        self._rules_cache: dict[float, DataFrame] = {}

    def association_rules(self, min_confidence: float | None = None) -> DataFrame:
        """Rules at min_confidence (default: the estimator's value this
        model was fitted with); memoized per confidence like the
        reference (epfp/FPGrowth.scala:89-107)."""
        if min_confidence is None:
            min_confidence = self.min_confidence
        if min_confidence not in self._rules_cache:
            self._rules_cache[min_confidence] = association_rules(
                self.freq_itemsets, self.num_transactions, min_confidence
            )
        return self._rules_cache[min_confidence]

    def transform(self, dataset: DataFrame, min_confidence: float | None = None,
                  keep_array: bool = True) -> DataFrame:
        """Reference-parity prediction (epfp/FPGrowth.scala:123-150)."""
        return transform_with_rules(
            dataset,
            self.association_rules(min_confidence),
            items_col=self.items_col,
            prediction_col=self.prediction_col,
            keep_array=keep_array,
        )

    def unpersist(self) -> None:
        """Destroy the broadcast rule index compiled for each memoized
        rules DataFrame, and forget those DataFrames. The itemsets and
        rules are local relations held by the driver, so nothing of the
        model sits in executor storage. Call when done with the model in
        a long-lived session. Outputs of ``transform`` built before this
        call need a new ``transform``."""
        for df in self._rules_cache.values():
            release_rule_index(df)
        self._rules_cache.clear()

    def transform_self(self, min_confidence: float | None = None,
                       keep_array: bool = True) -> DataFrame:
        """The reference's ``transform(spark)`` demo overload
        (pfp/FPGrowth.scala:124-148): predict over the DISTINCT
        antecedents of the mined rules themselves — each rule
        antecedent becomes an input basket, answered with the standard
        rule application. The reference round-trips the collected
        rules through ``makeRDD(...).toDF``; we stay on the rules
        DataFrame (already bounded) and reuse the declarative
        transform."""
        baskets = (
            self.association_rules(min_confidence)
            .select(F.col("antecedent").alias(self.items_col))
            .distinct()
        )
        return self.transform(baskets, min_confidence, keep_array)


class FPGrowth:
    """Estimator. Parameters and defaults follow epfp/FPGrowth.scala:19-27
    and epfp/FPGrowthCore.scala:27-44."""

    def __init__(
        self,
        items_col: str = "items",
        prediction_col: str = "prediction",
        min_support: float = 0.3,
        min_confidence: float = 0.8,
        num_partitions: int | None = None,
        kernel: str = "mllib",
        balanced: bool = True,
        validate_unique: bool = False,
    ):
        if not 0.0 <= min_support <= 1.0:
            raise ValueError(f"minSupport must be in [0,1] but got {min_support}")
        if not 0.0 <= min_confidence <= 1.0:
            raise ValueError(f"minConfidence must be in [0,1] but got {min_confidence}")
        if num_partitions is not None and num_partitions <= 0:
            raise ValueError(f"numPartitions must be positive but got {num_partitions}")
        if kernel not in ("mllib", "pandas"):
            raise ValueError(f"kernel must be 'mllib' or 'pandas', got {kernel!r}")
        self.items_col = items_col
        self.prediction_col = prediction_col
        self.min_support = min_support
        self.min_confidence = min_confidence
        self.num_partitions = num_partitions
        self.kernel = kernel
        self.balanced = balanced
        # The reference validates uniqueness unconditionally inside item
        # counting (epfp/FPGrowthCore.scala:77-81); we make the check
        # opt-in because it costs one extra pass over the input; without
        # it, fit() deduplicates each basket instead of raising.
        self.validate_unique = validate_unique

    def min_count(self, n: int) -> int:
        return min_count_for(self.min_support, n)

    def fit(self, dataset: DataFrame) -> FPGrowthModel:
        """Mine frequent itemsets (epfp/FPGrowth.scala:55-80 lifecycle):
        take the items column's baskets (operators/itemcount.py), count N,
        mine, and collect the canonical itemsets once into a local
        relation. With ``validate_unique`` a repeated item raises, as in
        the reference, instead of counting once."""
        items = dataset.select(F.col(self.items_col).alias("items"))
        if self.validate_unique:
            from optimal_parallel_fp_growth_spark.functions.arrays import (
                validate_unique_items,
            )

            validate_unique_items(items, "items")
        items = baskets(items)
        items.persist()
        try:
            n = items.count()
            if self.kernel == "mllib":
                freq = self._fit_mllib(items)
            else:
                from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas

                freq = mine_pandas(
                    items,
                    min_count=self.min_count(n),
                    num_partitions=self.num_partitions,
                    balanced=self.balanced,
                )
            # Canonical order for cross-kernel/oracle comparability: Spark's
            # array_sort, so every item type orders as Spark orders it
            # (nulls last). One collect; the rest of the model is local.
            canon = freq.select(F.array_sort("items").alias("items"), "freq")
            freq_itemsets = local_frame(dataset.sparkSession, canon.schema, canon.collect())
        finally:
            items.unpersist()
        return FPGrowthModel(
            freq_itemsets, n, self.items_col, self.prediction_col, self.min_confidence
        )

    def _fit_mllib(self, items: DataFrame) -> DataFrame:
        from pyspark.ml.fpm import FPGrowth as MLlibFPGrowth

        est = MLlibFPGrowth(itemsCol="items", minSupport=self.min_support)
        if self.num_partitions is not None:
            est.setNumPartitions(self.num_partitions)
        return est.fit(items).freqItemsets
