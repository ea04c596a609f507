"""Independent output checks for the benchmark.

- Itemsets: a digest (count, sum of freq, SHA-256 of the sorted
  ``(items, freq)`` pairs) compared with one made by the MLlib kernel.
- Rules: every single-consequent rule derived in pure Python from the
  reference itemsets, compared as a set with its confidence.
- Predictions: a pure-Python predictor with the engine's documented
  semantics (rules ordered lift desc then consequent asc, consequents
  deduped keeping the first, items the basket owns removed).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterable


def itemset_digest(pairs: Iterable[tuple[Iterable[str], int]]) -> tuple[int, int, str]:
    canon = sorted((tuple(sorted(items)), int(freq)) for items, freq in pairs)
    h = hashlib.sha256()
    for items, freq in canon:
        h.update(" ".join(items).encode())
        h.update(b"\t%d\n" % freq)
    return len(canon), sum(f for _, f in canon), h.hexdigest()


def reference_rules(
    pairs: Iterable[tuple[Iterable[str], int]], num_baskets: int, min_confidence: float
) -> dict[tuple[tuple[str, ...], str], float]:
    """(antecedent, consequent) → confidence, from frequent itemsets."""
    freq = {tuple(sorted(items)): int(f) for items, f in pairs}
    out = {}
    for items, f in freq.items():
        if len(items) < 2:
            continue
        for i, cons in enumerate(items):
            ante = items[:i] + items[i + 1 :]
            conf = f / freq[ante]
            if conf >= min_confidence:
                out[(ante, cons)] = conf
    return out


def rules_match(rows, expected: dict[tuple[tuple[str, ...], str], float]) -> bool:
    got = {}
    for r in rows:
        key = (tuple(sorted(r["antecedent"])), r["consequent"][0])
        if key in got:
            return False
        got[key] = r["confidence"]
    return got.keys() == expected.keys() and all(
        abs(got[k] - v) <= 1e-9 for k, v in expected.items()
    )


class Predictor:
    """Pure-Python twin of ``FPGrowthModel.transform``'s prediction."""

    def __init__(self, rule_rows):
        ranked = [
            (
                frozenset(r["antecedent"]),
                r["consequent"][0],
                float("-inf") if r["lift"] is None else r["lift"],
            )
            for r in rule_rows
        ]
        ranked.sort(key=lambda t: (-t[2], t[1]))
        self.rules = [(ante, cons) for ante, cons, _ in ranked]

    def predict(self, basket: Iterable[str]) -> tuple[str, ...]:
        owned = set(basket)
        out: dict[str, None] = {}
        for ante, cons in self.rules:
            if cons not in owned and ante <= owned:
                out.setdefault(cons)
        return tuple(out)

    def expected(self, baskets: Iterable[list[str]]) -> Counter:
        return Counter((tuple(b), self.predict(b)) for b in baskets)


def predictions_match(rows, expected: Counter) -> bool:
    """rows: transform output with items, prediction, prediction_items."""
    got = Counter()
    for r in rows:
        pred = tuple(r["prediction_items"])
        if r["prediction"] != ", ".join(pred):
            return False
        got[(tuple(r["items"]), pred)] += 1
    return got == expected
