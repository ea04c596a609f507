"""Seeded Quest-style basket generator.

Follows the shape of the IBM Quest synthetic generator (Agrawal & Srikant,
VLDB 1994): a pool of "potentially frequent" patterns, each sharing part of
its items with the previous pattern (correlation) and inserted with
per-pattern corruption, plus noise items drawn from a Zipf popularity over
the vocabulary. The catalog (popularity and patterns) comes from a fixed
seed; the baskets come from the caller's seed, so the same seed and
parameters give the same baskets on any host.

Output is the reference loader's text format: one basket per line, items
separated by a single space.

Run standalone: ``python3 perfbench/gen.py --seed 1 --baskets 1000 --out b.txt``
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import math
import random
from dataclasses import dataclass


# The catalog is fixed; the benchmark's --seed only draws the baskets.
CATALOG_SEED = 2008


@dataclass(frozen=True)
class GenParams:
    vocab: int = 1000  # distinct items; tokens are "i0".."i999"
    zipf_s: float = 1.0  # item popularity exponent (rank r weight 1/(r+1)^s)
    patterns: int = 200  # pool of potentially frequent itemsets
    pattern_len: float = 4.0  # mean pattern size (Poisson, clipped to [2, 8])
    correlation: float = 0.5  # mean share of a pattern taken from the previous one
    corruption: float = 0.3  # mean per-pattern item-drop probability
    basket_len: float = 11.0  # mean basket size (Poisson, at least 1)
    noise_share: float = 0.3  # expected share of a basket filled by Zipf noise


def _poisson(rng: random.Random, mean: float) -> int:
    # Knuth's method; means here are small (< 20).
    limit, k, p = math.exp(-mean), 0, 1.0
    while True:
        p *= rng.random()
        if p <= limit:
            return k
        k += 1


class Catalog:
    """The shop: which tokens are popular and which patterns exist.

    Built from its own seed, so every basket seed draws from the same
    catalog and runs with different seeds do comparable mining work.
    """

    def __init__(self, params: GenParams = GenParams(), seed: int = CATALOG_SEED):
        self.params = params
        rng = random.Random(seed)
        self.tokens = [f"i{i}" for i in range(params.vocab)]
        # Shuffle which token is popular so token order says nothing.
        rng.shuffle(self.tokens)
        self.item_cum = list(
            itertools.accumulate(1.0 / (r + 1) ** params.zipf_s for r in range(params.vocab))
        )
        self.pool: list[tuple[list[str], float]] = []
        prev: list[str] = []
        for _ in range(params.patterns):
            size = min(8, max(2, _poisson(rng, params.pattern_len)))
            shared = min(len(prev), int(round(size * rng.expovariate(1.0 / params.correlation))))
            items = rng.sample(prev, shared) if shared else []
            while len(items) < size:
                item = self.zipf_item(rng)
                if item not in items:
                    items.append(item)
            corruption = min(0.9, max(0.0, rng.gauss(params.corruption, 0.1)))
            self.pool.append((items, corruption))
            prev = items
        self.pattern_cum = list(
            itertools.accumulate(rng.expovariate(1.0) for _ in range(params.patterns))
        )

    def zipf_item(self, rng: random.Random) -> str:
        x = rng.random() * self.item_cum[-1]
        return self.tokens[bisect.bisect_left(self.item_cum, x)]


class BasketGenerator:
    """Draws baskets (lists of distinct item tokens) from one seeded stream."""

    def __init__(self, catalog: Catalog, seed: int | str):
        self.catalog = catalog
        self.rng = random.Random(seed)

    def basket(self) -> list[str]:
        rng, cat = self.rng, self.catalog
        params = cat.params
        target = max(1, _poisson(rng, params.basket_len))
        out: dict[str, None] = {}
        while len(out) < target:
            if rng.random() < params.noise_share:
                out[cat.zipf_item(rng)] = None
                continue
            x = rng.random() * cat.pattern_cum[-1]
            items, corruption = cat.pool[bisect.bisect_left(cat.pattern_cum, x)]
            for item in items:
                if rng.random() >= corruption:
                    out[item] = None
        return list(out)

    def baskets(self, n: int) -> list[list[str]]:
        return [self.basket() for _ in range(n)]


def write_baskets(path: str, baskets: list[list[str]]) -> None:
    with open(path, "w", encoding="ascii") as f:
        for b in baskets:
            f.write(" ".join(b))
            f.write("\n")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--baskets", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_baskets(a.out, BasketGenerator(Catalog(), a.seed).baskets(a.baskets))
