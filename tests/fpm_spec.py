"""Pure-Python specification of the FPM semantics: frequent itemsets,
association rules and rule application (``model.transform``).

Frequent itemsets: every itemset that occurs in at least ``min_count``
baskets, with that count as its frequency, found by brute-force
enumeration of each basket's subsets.

Association rules: one rule per pair of itemsets ``(union, antecedent)``
where the antecedent is the union less one item, the consequent. From
the frequencies ``f`` of the union and ``fa`` of the antecedent and the
basket count ``n``: ``confidence = f / fa``, kept when at least
``min_confidence``; ``lift = confidence / (fc / n)`` with ``fc`` the
consequent singleton's frequency, or ``None`` when that singleton is not
an itemset; ``support = f / n``. The table need not be downward-closed:
a union whose antecedent is absent gives no rule.

Rule application: every rule whose antecedent is a subset of the basket
contributes its consequent. Rules are taken in order of lift descending,
then consequent ascending, with a null lift treated as -inf (sorts last).
Consequents are deduplicated keeping the first occurrence, and items the
basket already owns are excluded. A null basket predicts ``None``; a
basket no rule matches predicts ``""`` (the string) or ``[]`` (the items).
A null item is an item: it sorts first among consequents of equal lift,
and the string form renders it as ``null`` (Scala's ``mkString``).

``rules`` is any iterable of rows or mappings with ``antecedent``,
``consequent`` (a one-item list) and ``lift``, e.g. ``rules_df.collect()``.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations


def canonical(items) -> list:
    """``items`` in the engine's canonical order, Spark's ``array_sort``:
    ascending, a null item last."""
    return sorted(items, key=lambda i: (i is None, i))


def frequent_itemsets(baskets, min_count: int) -> dict[tuple, int]:
    """{canonical itemset tuple: frequency} over the non-empty subsets of
    each basket's distinct items that reach ``min_count``."""
    counts = Counter(
        combo
        for items in (canonical(set(basket)) for basket in baskets)
        for k in range(1, len(items) + 1)
        for combo in combinations(items, k)
    )
    return {items: n for items, n in counts.items() if n >= min_count}


def association_rules(itemsets, n: int, min_confidence: float) -> list[tuple]:
    """``(antecedent, consequent, confidence, lift, support)`` tuples,
    antecedent and consequent as tuples, from ``{itemset tuple: freq}``;
    every (itemset, consequent) pair is tried against every itemset."""
    out = []
    for union, f in itemsets.items():
        for antecedent, fa in itemsets.items():
            if len(antecedent) + 1 != len(union) or not set(antecedent) < set(union):
                continue
            (consequent,) = set(union) - set(antecedent)
            confidence = f / fa
            if confidence < min_confidence:
                continue
            fc = itemsets.get((consequent,))
            lift = None if fc is None else confidence / (fc / n)
            out.append((antecedent, (consequent,), confidence, lift, f / n))
    return out


def predict_items(rules, basket) -> list | None:
    if basket is None:
        return None
    ranked = sorted(
        (
            (float("-inf") if r["lift"] is None else r["lift"], r["consequent"][0], r["antecedent"])
            for r in rules
        ),
        key=lambda t: (-t[0], t[1] is not None, t[1]),
    )
    owned = set(basket)
    out: list = []
    for _, cons, ante in ranked:
        if cons not in owned and cons not in out and owned.issuperset(ante):
            out.append(cons)
    return out


def predict(rules, basket) -> str | None:
    items = predict_items(rules, basket)
    return None if items is None else ", ".join("null" if i is None else str(i) for i in items)
