"""``transform_with_rules`` must equal the pure-Python prediction spec
(tests/fpm_spec.py) row for row: lift-desc ordering with a consequent
tie-break, deduplication, owned-item exclusion, null and no-match
baskets."""

from __future__ import annotations

import pytest

from fpm_spec import predict, predict_items
from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.operators.transform import transform_with_rules
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_events,
)

pytestmark = pytest.mark.fpm


def _preds(df, keys):
    return {tuple(r[k] for k in keys): r.prediction for r in df.collect()}


def _spec(df, rules, keys):
    rule_rows = rules.collect()
    return {
        tuple(r[k] for k in keys): predict(rule_rows, r["items"])
        for r in df.select(*keys, "items").collect()
    }


def test_transform_matches_spec_on_textbook(spark, fpm_train, fpm_test):
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    rules = model.association_rules(0.5)
    a = _preds(transform_with_rules(fpm_test, rules, keep_array=False), ["tid"])
    assert a == _spec(fpm_test, rules, ["tid"]) and len(a) == 6


def test_transform_matches_spec_on_events(spark, sf_small):
    tx = transactions_from_events(spark, sf_small)
    model = FPGrowth(min_support=0.03, min_confidence=0.2).fit(tx)
    rules = model.association_rules(0.2)
    keys = ["user_id", "day"]
    a = _preds(transform_with_rules(tx, rules, keep_array=False), keys)
    assert a == _spec(tx, rules, keys) and len(a) > 0


def test_transform_items_match_spec(spark, fpm_train, fpm_test, sf_small):
    """The array output (``prediction_items``) on the same fixtures."""
    tx = transactions_from_events(spark, sf_small)
    cases = [
        (fpm_train, fpm_test, 0.4, 0.5, ["tid"]),
        (tx, tx, 0.03, 0.2, ["user_id", "day"]),
    ]
    for train, test, support, confidence, keys in cases:
        rules = FPGrowth(min_support=support).fit(train).association_rules(confidence)
        rule_rows = rules.collect()
        got = {
            tuple(r[k] for k in keys): r.prediction_items
            for r in transform_with_rules(test, rules).collect()
        }
        want = {
            tuple(r[k] for k in keys): predict_items(rule_rows, r["items"])
            for r in test.collect()
        }
        assert got == want and any(want.values())
