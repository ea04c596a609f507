"""Association-rule generation on the driver, from the collected itemsets.

Reproduces ``epfp/AssociationRules.scala:58-82`` +
``epfp/FPGrowth.scala:169-193``, which build the rules from a driver-side
``itemSupport`` map:

1. every frequent itemset of size ≥ 2 yields one single-consequent
   candidate per position: ``antecedent = items`` without that position,
   ``consequent = [item]`` (``items.partition(_ == item)``,
   AssociationRules.scala:61-70); dropping a position of a sorted itemset
   leaves it sorted, and a null item is dropped like any other;
2. the antecedent's frequency is looked up in the itemset map; a
   candidate whose antecedent is not an itemset is dropped
   (AssociationRules.scala:73);
3. ``confidence = freq(a∪c)/freq(a)`` kept at ``>= minConfidence``
   (AssociationRules.scala:81), ``lift = confidence / support(c)``, null
   when the consequent singleton is not an itemset
   (AssociationRules.scala:114, ``r.lift.orNull``), and
   ``support = freq(a∪c)/N`` (FPGrowth.scala:182). These are the IEEE
   operations, in the order, of the Spark expression they replace, so
   every value is bit-identical to it.

The rules come back as a local relation (``local_frame``): collecting it
runs no Spark job. Scale: the work and the driver memory are linear in
the number of frequent itemsets, which minSupport bounds, not the input
rows; ``transform`` already collects every rule into its index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def local_frame(spark, schema: StructType, rows: list) -> DataFrame:
    """A DataFrame over ``rows`` (tuples in the field order of
    ``schema``), built from an Arrow table typed by ``schema``. Under
    ``spark.sql.execution.arrow.localRelationThreshold`` it is a
    ``LocalRelation``, whose ``collect()`` runs no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def derive_rules(itemsets, num_transactions: int, min_confidence: float) -> list[tuple]:
    """``(antecedent, consequent, confidence, lift, support)`` tuples
    from ``(items, freq)`` pairs whose items are canonically sorted."""
    freq = {tuple(items): f for items, f in itemsets}
    n = float(num_transactions)
    out = []
    for items, f in freq.items():
        if len(items) < 2:
            continue
        for i, item in enumerate(items):
            antecedent = items[:i] + items[i + 1:]
            fa = freq.get(antecedent)
            if fa is None:
                continue
            confidence = f / fa
            if confidence >= min_confidence:
                fc = freq.get((item,))
                lift = None if fc is None else confidence / (fc / n)
                out.append((list(antecedent), [item], confidence, lift, f / n))
    return out


def association_rules(
    freq_itemsets: DataFrame,
    num_transactions: int,
    min_confidence: float = 0.8,
) -> DataFrame:
    """freq_itemsets: (items: array sorted canonically, freq: long) →
    (antecedent, consequent, confidence, lift, support), a local relation.

    Items arrays MUST be canonically sorted (array_sort) on input: the
    antecedent is looked up by value, and dropping one position of a
    sorted array leaves it sorted. The input is collected once; for the
    model's itemsets, a local relation, that runs no job.
    """
    if not 0.0 <= min_confidence <= 1.0:
        raise ValueError(f"minConfidence must be in [0,1] but got {min_confidence}")

    itemsets = freq_itemsets.select("items", "freq")
    items_field = itemsets.schema["items"]
    rules = derive_rules(itemsets.collect(), num_transactions, min_confidence)
    schema = StructType([
        StructField("antecedent", items_field.dataType, items_field.nullable),
        StructField("consequent", items_field.dataType, False),
        *(StructField(c, DoubleType()) for c in ("confidence", "lift", "support")),
    ])
    return local_frame(freq_itemsets.sparkSession, schema, rules)
