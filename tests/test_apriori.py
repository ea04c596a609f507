"""Apriori-equivalence query (operators/apriori.py): brute-force
ground truth including the reference's two documented quirks — the
FLOOR support threshold (apriori/Apriori.scala:73, vs the FP-Growth
path's ceil) and the confidence/rawCount rule metric
(apriori/Apriori.scala:125) — plus the FP-Growth cross-check on the
shared semantics. Closes the one operator-module test gap flagged while
building the round-9 rotation pins."""

from __future__ import annotations

import math
from collections import Counter
from itertools import combinations

import pytest

from optimal_parallel_fp_growth_spark.operators.apriori import (
    apriori_one_to_one_rules,
)
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_events,
)

pytestmark = pytest.mark.fpm


def _brute(baskets, min_support, min_confidence):
    n = len(baskets)
    min_count = math.floor(min_support * n)  # the reference's FLOOR quirk
    singles = Counter(i for b in baskets for i in set(b))
    pairs = Counter()
    for b in baskets:
        for a, c in combinations(sorted(set(b)), 2):
            pairs[(a, c)] += 1
    out = {}
    for (a, c), f in pairs.items():
        if f < min_count:
            continue
        for ant, con in ((a, c), (c, a)):
            if singles[ant] < min_count or singles[con] < min_count:
                continue
            conf = f / singles[ant]
            if conf >= min_confidence:
                # the confidence/rawCount metric: conf / |consequent|
                out[(ant, con)] = (conf, conf / singles[con])
    return out


def _collect(df):
    return {
        (r.antecedent, r.consequent): (r.confidence, r.score)
        for r in df.collect()
    }


def test_matches_brute_force_on_crafted_baskets(spark):
    baskets = [
        ["a", "b", "c"],
        ["a", "b"],
        ["a", "c"],
        ["b", "c"],
        ["a", "b", "c", "d"],
        ["d"],
        # a repeated item counts once per basket, as in FPGrowth.fit
        # (test_null_and_repeated_items_are_items)
        ["a", "d"],
        ["b"],
    ]
    df = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    got = _collect(apriori_one_to_one_rules(df, min_support=0.25,
                                            min_confidence=0.3))
    want = _brute([set(b) for b in baskets], 0.25, 0.3)
    assert set(got) == set(want)
    for k, (conf, score) in want.items():
        assert math.isclose(got[k][0], conf) and math.isclose(got[k][1], score), k


def test_floor_vs_ceil_threshold_quirk(spark):
    """5 baskets at min_support 0.5: floor(2.5) = 2 admits a pair seen
    twice; the FP-Growth ceil(2.5) = 3 would drop it — the documented
    divergence must be preserved."""
    baskets = [["x", "y"], ["x", "y"], ["x"], ["y"], ["z"]]
    df = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    got = _collect(apriori_one_to_one_rules(df, min_support=0.5,
                                            min_confidence=0.0))
    assert ("x", "y") in got and ("y", "x") in got
    # conf(x⇒y) = 2/3; score divides by rawCount(y) = 3
    assert math.isclose(got[("x", "y")][0], 2 / 3)
    assert math.isclose(got[("x", "y")][1], 2 / 9)


def test_matches_brute_force_on_events(spark, sf_small):
    tx = transactions_from_events(spark, sf_small)
    baskets = [set(r.items) for r in tx.select("items").collect()]
    got = _collect(apriori_one_to_one_rules(tx, min_support=0.1,
                                            min_confidence=0.2))
    want = _brute(baskets, 0.1, 0.2)
    assert len(got) > 0 and set(got) == set(want)
    for k in want:
        assert math.isclose(got[k][0], want[k][0])
        assert math.isclose(got[k][1], want[k][1])


def test_agrees_with_fpgrowth_on_shared_semantics(spark, sf_small):
    """Where the two paths' thresholds coincide (s·N integral, so
    floor == ceil), apriori's frequent pairs and confidences must
    equal FP-Growth's size-2 itemsets and 1⇒1 rule confidences."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth

    tx = transactions_from_events(spark, sf_small)
    n = tx.count()
    min_support = 20 / n  # integral count → floor == ceil == 20
    ap = _collect(apriori_one_to_one_rules(tx, min_support=min_support,
                                           min_confidence=0.0))
    model = FPGrowth(min_support=min_support, min_confidence=0.0).fit(tx)
    fp = {
        (tuple(r.antecedent)[0], r.consequent[0]): r.confidence
        for r in model.association_rules(0.0).collect()
        if len(r.antecedent) == 1
    }
    assert set(ap) == set(fp) and len(fp) > 0
    for k, conf in fp.items():
        assert math.isclose(ap[k][0], conf), k


def test_null_and_repeated_items_are_items(spark):
    """A null element is an item and a repeated item counts once: no
    self-rule a⇒a, and the null item's rules find its singleton count.
    Distinct baskets {a,null}, {a,null,b}, {a,b}, {null,b} at s=0.5
    (floor(2) = 2): every pair is seen twice, every item three times."""
    baskets = [["a", None], ["a", None, "b", "a"], ["a", "b", "b"], [None, "b", None]]
    df = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    got = _collect(apriori_one_to_one_rules(df, min_support=0.5))
    want = {
        (x, y): (2 / 3, 2 / 9)
        for x, y in [("a", "b"), ("a", None), ("b", None)]
        for x, y in [(x, y), (y, x)]
    }
    assert set(got) == set(want), got
    for k, (conf, score) in want.items():
        assert math.isclose(got[k][0], conf) and math.isclose(got[k][1], score), k


def test_pair_generation_stays_map_side(spark):
    """The scale claim in the module docstring: pair generation is
    array-side codegen + ONE aggregation shuffle — no self-join of the
    exploded item table."""
    df = spark.createDataFrame([(["a", "b", "c"],)], "items array<string>")
    plan = (
        apriori_one_to_one_rules(df, min_support=0.0, min_confidence=0.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    # the only joins are the two broadcast metric joins
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_null_baskets_do_not_count_toward_n(spark):
    """N is the number of non-null baskets, as in FPGrowth.fit: three
    null rows beside three real baskets must not double floor(s·N)."""
    baskets = [["a", "b"], ["a", "b"], ["a", "c"]]
    df = spark.createDataFrame(
        [(b,) for b in baskets] + [(None,)] * 3, "items array<string>"
    )
    got = _collect(apriori_one_to_one_rules(df, min_support=0.5))
    want = _brute([set(b) for b in baskets], 0.5, 0.2)
    assert len(want) == 4 and set(got) == set(want)
    for k, (conf, score) in want.items():
        assert math.isclose(got[k][0], conf) and math.isclose(got[k][1], score), k
