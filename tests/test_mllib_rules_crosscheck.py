"""Differential: our pure-DataFrame association_rules vs MLlib's own
JVM AssociationRules on identical fitted itemsets — an implementation-
independent oracle for confidence/lift/support."""

from __future__ import annotations

import math

import pytest
from pyspark.ml.fpm import FPGrowth as MLlibFPGrowth

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_events,
)

pytestmark = pytest.mark.fpm


def _ours(model, min_conf):
    return {
        (tuple(sorted(r.antecedent)), r.consequent[0]): (
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
        (tuple(sorted(r.antecedent)), r.consequent[0]): (
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
