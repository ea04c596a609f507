"""Mining-core edge cases: empty inputs, null baskets, rule-less
transform, parameter validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth

pytestmark = pytest.mark.fpm


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
def test_empty_input(spark, kernel):
    tx = spark.createDataFrame([], "items array<string>")
    model = FPGrowth(min_support=0.5, kernel=kernel).fit(tx)
    assert model.freq_itemsets.count() == 0
    assert model.association_rules(0.5).count() == 0


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
def test_null_baskets_are_filtered(spark, fpm_train, kernel):
    with_nulls = fpm_train.select("items").unionByName(
        spark.createDataFrame([(None,)], "items array<string>")
    )
    plain = FPGrowth(min_support=0.4, kernel=kernel).fit(fpm_train)
    nulled = FPGrowth(min_support=0.4, kernel=kernel).fit(with_nulls)
    # N excludes null rows -> identical minCount and itemsets
    a = {(tuple(r["items"]), r["freq"]) for r in plain.freq_itemsets.collect()}
    b = {(tuple(r["items"]), r["freq"]) for r in nulled.freq_itemsets.collect()}
    assert a == b and nulled.num_transactions == plain.num_transactions


def test_transform_with_no_rules_emits_empty_string(spark, fpm_train, fpm_test):
    model = FPGrowth(min_support=0.4, min_confidence=1.0).fit(fpm_train)
    # minConfidence=1.0 may still admit certainty rules; force empty:
    rules = model.association_rules(1.0)
    if rules.count() > 0:
        model._rules_cache[1.0] = rules.where(F.lit(False))
    out = model.transform(fpm_test, min_confidence=1.0, keep_array=False)
    preds = [r.prediction for r in out.collect()]
    assert len(preds) == fpm_test.count()
    assert all(p == "" for p in preds)


def test_param_validation():
    for bad in (dict(min_support=1.5), dict(min_confidence=-0.1),
                dict(num_partitions=0), dict(kernel="nope")):
        with pytest.raises(ValueError):
            FPGrowth(**bad)


def test_transform_preserves_duplicate_rows(spark, fpm_train):
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    doubled = fpm_train.unionByName(fpm_train)
    out = model.transform(doubled, min_confidence=0.5)
    assert out.count() == 2 * fpm_train.count()


def test_freq_items_ignores_null_baskets(spark):
    """N counts only non-null baskets, and a repeated item counts once,
    as in FPGrowth.fit."""
    from optimal_parallel_fp_growth_spark.operators.itemcount import freq_items

    cases = [
        ([["a", "b"], ["a", "b"], ["a", "c"], None, None, None], {"a": 3, "b": 2}),
        ([["a", "a", "c"], ["a", "b"], ["b", "c"], ["c"], None], {"a": 2, "b": 2, "c": 3}),
    ]
    for baskets, want in cases:
        tx = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
        got = {r.item: r.freq for r in freq_items(tx, min_support=0.5).collect()}
        fis = FPGrowth(min_support=0.5).fit(tx).freq_itemsets.where(F.size("items") == 1)
        assert got == want == {r["items"][0]: r.freq for r in fis.collect()}, baskets


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
@pytest.mark.parametrize(
    "min_support, want",
    [
        (1.0, {("x",): 5}),
        # N = 5: ceil(0.4 * 5) = 2 keeps count 2; ceil(0.41 * 5) = 3 does not
        (0.4, {("x",): 5, ("b",): 3, ("a",): 2, ("b", "x"): 3, ("a", "x"): 2}),
        (0.41, {("x",): 5, ("b",): 3, ("b", "x"): 3}),
        # min_count = 0: every itemset that occurs
        (0.0, {("x",): 5, ("b",): 3, ("a",): 2, ("b", "x"): 3, ("a", "x"): 2}),
    ],
)
def test_min_support_boundaries(spark, kernel, min_support, want):
    tx = spark.createDataFrame(
        [(["x", "a"],), (["x", "a"],), (["x", "b"],), (["x", "b"],), (["x", "b"],)],
        "items array<string>",
    )
    model = FPGrowth(min_support=min_support, kernel=kernel).fit(tx)
    got = {tuple(sorted(r["items"])): r.freq for r in model.freq_itemsets.collect()}
    assert got == want


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
def test_repeated_item_counts_once(spark, kernel):
    """A basket is a set: both kernels mine ``[a, a, b]`` as ``[a, b]``."""
    from fpm_spec import frequent_itemsets

    baskets = [["a", "a", "b"], ["a", "b"], ["b"]]
    tx = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    model = FPGrowth(min_support=0.5, kernel=kernel).fit(tx)
    got = {tuple(sorted(r["items"])): r.freq for r in model.freq_itemsets.collect()}
    assert got == frequent_itemsets(baskets, 2) == {("a",): 2, ("a", "b"): 2, ("b",): 3}
