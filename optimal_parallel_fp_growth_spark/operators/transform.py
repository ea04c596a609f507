"""Rule application / prediction — reference-parity ``model.transform``.

Reproduces ``epfp/FPGrowth.scala:123-150``: for each input basket, take
every rule whose antecedent ⊆ basket, order by lift desc, emit the
consequent items deduped (first = highest lift wins), minus items the
basket already owns, as BOTH an array (``prediction_items``) and the
reference's ", "-joined string (``mkString(", ")``, FPGrowth.scala:144,
which renders a null item as ``null``).

A prediction depends only on its own basket, so the reference collects
the rules and broadcasts them into a row-at-a-time function
(FPGrowth.scala:124-148). We keep that shape:

- the rules are collected and compiled ONCE per rules DataFrame into a
  plain-data index (``compile_rules``), memoized weakly by the DataFrame
  object, so ``model.transform`` and ``transform_with_rules(df,
  model.association_rules(...))`` share one index and one broadcast;
- the index holds the rules in the total order (lift desc, null lift
  last, then consequent asc with a null consequent first) and files each
  rule under its rarest antecedent item, so a basket only tests the rules
  filed under its own items;
- ``predict`` runs in one scalar Arrow UDF over the items column.

The physical plan is ``Project ← ArrowEvalPython ← dataset``: no shuffle,
no aggregate, no join. Rows and their multiplicity pass through, and only
the items column crosses into Python, so extra columns of any type
(maps, structs, intervals) pass through untouched. The string form stays
the JVM's ``array_join(prediction_items, ", ", "null")``.

Tie-break: the reference's ``sortBy(lift desc)`` is unstable under lift
ties; we define the total order (lift desc, consequent asc) documented in
SURVEY §7.4 so output is deterministic.
"""

from __future__ import annotations

import weakref
from collections import Counter, defaultdict

from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

# rules DataFrame -> broadcast of compile_rules(its rows)
_INDEXES: weakref.WeakKeyDictionary[DataFrame, Broadcast] = weakref.WeakKeyDictionary()


def compile_rules(rules) -> tuple[list, dict]:
    """``(ranked, filed)`` from rows with ``antecedent``, ``consequent``
    (a one-item list) and ``lift``: ``ranked`` lists ``(consequent item,
    frozenset(antecedent))`` in the total order, and ``filed`` maps each
    item to the ascending positions of the rules filed under it (the
    antecedent item held by the fewest antecedents; ``()`` for an empty
    antecedent, which every basket holds)."""
    ranked = sorted(
        ((float("-inf") if r["lift"] is None else r["lift"], r["consequent"][0], r["antecedent"])
         for r in rules),
        key=lambda t: (-t[0], t[1] is not None, t[1]),
    )
    uses = Counter(item for _, _, ante in ranked for item in set(ante))
    filed = defaultdict(list)
    for pos, (_, _, ante) in enumerate(ranked):
        filed[min(ante, key=uses.__getitem__, default=())].append(pos)
    return [(cons, frozenset(ante)) for _, cons, ante in ranked], dict(filed)


def predict(index: tuple[list, dict], basket) -> list | None:
    """Consequents of the rules whose antecedent ⊆ ``basket``, in rule
    order, first occurrence only, minus the items ``basket`` owns. A null
    basket gives None."""
    if basket is None:
        return None
    ranked, filed = index
    owned = set(basket)
    seen = set(owned)
    out = []
    for pos in sorted({p for key in (*owned, ()) for p in filed.get(key, ())}):
        cons, ante = ranked[pos]
        if cons not in seen and ante <= owned:
            seen.add(cons)
            out.append(cons)
    return out


def _rule_index(rules: DataFrame) -> Broadcast:
    index = _INDEXES.get(rules)
    if index is None:
        rows = rules.select("antecedent", "consequent", "lift").collect()
        index = rules.sparkSession.sparkContext.broadcast(compile_rules(rows))
        _INDEXES[rules] = index
    return index


def release_rule_index(rules: DataFrame) -> None:
    """Destroy the broadcast index compiled for ``rules``, if any; a later
    transform over ``rules`` compiles a new one."""
    index = _INDEXES.pop(rules, None)
    if index is not None:
        index.destroy()


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
    The first call for a ``rules`` DataFrame collects and broadcasts its
    index; later calls reuse it.
    """
    items_out = f"{prediction_col}_items"
    for c in (prediction_col, items_out):
        if c in dataset.columns:
            raise ValueError(f"output column {c!r} already exists in dataset")

    index = _rule_index(rules)
    item_type = rules.schema["consequent"].dataType.elementType

    def predict_basket(basket):
        return predict(index.value, basket)

    predict_udf = F.udf(predict_basket, ArrayType(item_type), useArrow=True)
    out = (
        dataset.withColumn(items_out, predict_udf(items_col))
        .withColumn(prediction_col, F.array_join(items_out, ", ", "null"))
    )
    return out if keep_array else out.drop(items_out)
