"""Golden-output tests on the textbook fixture (FIXTURES.md F1/F2)."""

from __future__ import annotations

import pytest

from optimal_parallel_fp_growth_spark import FPGrowth

pytestmark = pytest.mark.fpm

GOLDEN_ITEMSETS = {
    ("I1",): 3,
    ("I2",): 4,
    ("I3",): 2,
    ("I4",): 2,
    ("I5",): 2,
    ("I1", "I2"): 2,
    ("I1", "I5"): 2,
    ("I2", "I5"): 2,
    ("I2", "I4"): 2,
    ("I1", "I2", "I5"): 2,
}

GOLDEN_RULES_06 = {
    (("I1",), ("I2",)): (2 / 3, (2 / 3) / (4 / 5), 0.4),
    (("I1",), ("I5",)): (2 / 3, (2 / 3) / (2 / 5), 0.4),
    (("I5",), ("I1",)): (1.0, 1.0 / (3 / 5), 0.4),
    (("I5",), ("I2",)): (1.0, 1.0 / (4 / 5), 0.4),
    (("I4",), ("I2",)): (1.0, 1.0 / (4 / 5), 0.4),
    (("I1", "I2"), ("I5",)): (1.0, 1.0 / (2 / 5), 0.4),
    (("I1", "I5"), ("I2",)): (1.0, 1.0 / (4 / 5), 0.4),
    (("I2", "I5"), ("I1",)): (1.0, 1.0 / (3 / 5), 0.4),
}

GOLDEN_PREDICTIONS = {
    ("I1",): "I5, I2",
    ("I2",): "",
    ("I3",): "",
    ("I4",): "I2",
    ("I2", "I3", "I5"): "I1",
    ("I6",): "",
}


def itemsets_as_dict(df):
    return {tuple(r["items"]): r["freq"] for r in df.collect()}


def rules_as_dict(df):
    return {
        (tuple(r["antecedent"]), tuple(r["consequent"])): (
            r["confidence"],
            r["lift"],
            r["support"],
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module", params=["mllib", "pandas"])
def model(request, fpm_train):
    fp = FPGrowth(min_support=0.4, min_confidence=0.6, kernel=request.param)
    return fp.fit(fpm_train)


def test_freq_itemsets_golden(model):
    assert itemsets_as_dict(model.freq_itemsets) == GOLDEN_ITEMSETS


def test_association_rules_golden(model):
    got = rules_as_dict(model.association_rules(0.6))
    assert set(got) == set(GOLDEN_RULES_06)
    for k, (conf, lift, supp) in GOLDEN_RULES_06.items():
        gc, gl, gs = got[k]
        assert abs(gc - conf) < 1e-9, k
        assert abs(gl - lift) < 1e-9, k
        assert abs(gs - supp) < 1e-9, k


def test_association_rules_at_zero_confidence(model):
    # 8 golden rules + [I2]→[I1], [I2]→[I5], [I2]→[I4] = 11 (FIXTURES F1)
    assert model.association_rules(0.0).count() == 11


def test_transform_golden(model, fpm_test):
    out = model.transform(fpm_test, min_confidence=0.6)
    got = {tuple(sorted(r["items"])): r["prediction"] for r in out.collect()}
    assert got == GOLDEN_PREDICTIONS


def test_transform_null_items(model, spark):
    df = spark.createDataFrame([(1, None)], "tid long, items array<string>")
    row = model.transform(df, min_confidence=0.6).collect()[0]
    assert row["prediction"] is None
    assert row["prediction_items"] is None


def test_min_count_ceil():
    # epfp/FPGrowthCore.scala:54 uses ceil, not floor
    assert FPGrowth(min_support=0.4).min_count(5) == 2
    assert FPGrowth(min_support=0.3).min_count(5) == 2
    assert FPGrowth(min_support=0.5).min_count(5) == 3


def test_param_validation():
    with pytest.raises(ValueError):
        FPGrowth(min_support=1.5)
    with pytest.raises(ValueError):
        FPGrowth(min_confidence=-0.1)
    with pytest.raises(ValueError):
        FPGrowth(num_partitions=0)


def test_duplicate_items_raise(spark):
    from optimal_parallel_fp_growth_spark.functions.arrays import validate_unique_items

    df = spark.createDataFrame([(1, ["a", "a", "b"])], "tid long, items array<string>")
    with pytest.raises(ValueError, match="unique"):
        validate_unique_items(df)
