"""Differential: our driver-side association_rules vs MLlib's own
JVM AssociationRules on identical fitted itemsets — an implementation-
independent oracle for confidence/lift/support."""

from __future__ import annotations

import math

import pytest
from pyspark.ml.fpm import FPGrowth as MLlibFPGrowth

from fpm_spec import predict, predict_items
from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_events,
)

pytestmark = pytest.mark.fpm


def _null_first(item):
    return (item is not None, item)


def _ours(model, min_conf):
    return {
        (tuple(sorted(r.antecedent, key=_null_first)), r.consequent[0]): (
            r.confidence,
            r.lift,
            r.support,
        )
        for r in model.association_rules(min_conf).collect()
    }


def _mllibs(tx, min_support, min_conf):
    m = MLlibFPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=min_conf
    ).fit(tx)
    return {
        (tuple(sorted(r.antecedent, key=_null_first)), r.consequent[0]): (
            r.confidence,
            r.lift,
            r.support,
        )
        for r in m.associationRules.collect()
    }


def _assert_equal(ours, theirs):
    assert set(ours) == set(theirs)
    for key, (c, l, s) in ours.items():
        tc, tl, ts = theirs[key]
        assert math.isclose(c, tc) and math.isclose(l, tl) and math.isclose(s, ts), key


def test_rules_match_mllib_textbook(spark, fpm_train):
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    _assert_equal(_ours(model, 0.5), _mllibs(fpm_train, 0.4, 0.5))


def test_rules_match_mllib_events(spark, sf_small):
    tx = transactions_from_events(spark, sf_small)
    model = FPGrowth(min_support=0.03, min_confidence=0.2).fit(tx)
    ours = _ours(model, 0.2)
    theirs = _mllibs(tx, 0.03, 0.2)
    assert len(ours) > 0
    _assert_equal(ours, theirs)


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
def test_null_consequent_rules_match_mllib(spark, kernel):
    """A null item is an item on the consequent side too: {a}⇒{null},
    {b}⇒{null} and {a,b}⇒{null} are rules, as in MLlib."""
    tx = spark.createDataFrame(
        [(["a", None],), (["a", None, "b"],), (["a", None, "b"],), ([None, "b"],)],
        "items array<string>",
    )
    model = FPGrowth(min_support=0.5, min_confidence=0.1, kernel=kernel).fit(tx)
    ours = _ours(model, 0.1)
    assert len(ours) == 9 and (("a", "b"), None) in ours
    _assert_equal(ours, _mllibs(tx, 0.5, 0.1))


def test_null_consequent_lift_tie_transform(spark):
    """{a}⇒{null} and {a}⇒{b} tie at lift 2: the null consequent comes
    first and renders as ``null``, as in the spec."""
    tx = spark.createDataFrame(
        [(["a", None, "b"],), (["a", None, "b"],), (["c"],), (["c"],)],
        "items array<string>",
    )
    model = FPGrowth(min_support=0.5, min_confidence=0.5, kernel="pandas").fit(tx)
    _assert_equal(_ours(model, 0.5), _mllibs(tx, 0.5, 0.5))
    rule_rows = model.association_rules().collect()
    probes = spark.createDataFrame(
        [(1, ["a"]), (2, ["a", "b"]), (3, [None])], "tid long, items array<string>"
    )
    got = {r.tid: (r.prediction, r.prediction_items) for r in model.transform(probes).collect()}
    want = {
        r.tid: (predict(rule_rows, r["items"]), predict_items(rule_rows, r["items"]))
        for r in probes.collect()
    }
    assert got == want
    assert got[1] == ("null, b", [None, "b"])
