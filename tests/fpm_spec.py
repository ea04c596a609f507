"""Pure-Python specification of rule application (``model.transform``).

Every rule whose antecedent is a subset of the basket contributes its
consequent. Rules are taken in order of lift descending, then consequent
ascending, with a null lift treated as -inf (sorts last). Consequents are
deduplicated keeping the first occurrence, and items the basket already
owns are excluded. A null basket predicts ``None``; a basket no rule
matches predicts ``""`` (the string) or ``[]`` (the items).

``rules`` is any iterable of rows or mappings with ``antecedent``,
``consequent`` (a one-item list) and ``lift``, e.g. ``rules_df.collect()``.
"""

from __future__ import annotations


def predict_items(rules, basket) -> list | None:
    if basket is None:
        return None
    ranked = sorted(
        (
            (float("-inf") if r["lift"] is None else r["lift"], r["consequent"][0], r["antecedent"])
            for r in rules
        ),
        key=lambda t: (-t[0], t[1]),
    )
    owned = set(basket)
    out: list = []
    for _, cons, ante in ranked:
        if cons not in owned and cons not in out and owned.issuperset(ante):
            out.append(cons)
    return out


def predict(rules, basket) -> str | None:
    items = predict_items(rules, basket)
    return None if items is None else ", ".join(items)
