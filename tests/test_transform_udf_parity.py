"""``transform_with_rules`` must equal the pure-Python prediction spec
(tests/fpm_spec.py) row for row: lift-desc ordering with a consequent
tie-break, deduplication, owned-item exclusion, null and no-match
baskets."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fpm_spec import predict, predict_items
from optimal_parallel_fp_growth_spark.operators import transform as transform_mod
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


def test_null_items_match_spec(spark):
    """A basket holding a null item is still answered: a null element
    never hides a non-null item, and a null item matches a null
    element, in both the subset and the ownership test."""
    train = spark.createDataFrame(
        [(["a", None],), (["a", None, "b"],), (["a", None, "b"],), ([None, "b"],)],
        "items array<string>",
    )
    rules = FPGrowth(kernel="pandas", min_support=0.5).fit(train).association_rules(0.1)
    rule_rows = rules.collect()
    probes = spark.createDataFrame(
        [(1, ["a", None]), (2, [None]), (3, ["a"]), (4, None), (5, ["c"])],
        "tid long, items array<string>",
    )
    got = {r.tid: (r.prediction, r.prediction_items)
           for r in transform_with_rules(probes, rules).collect()}
    want = {r.tid: (predict(rule_rows, r["items"]), predict_items(rule_rows, r["items"]))
            for r in probes.collect()}
    assert got == want
    assert got[1] == ("b", ["b"]) and got[2] == ("a, b", ["a", "b"])


def test_int_baskets_keep_element_type(spark):
    tx = spark.createDataFrame(
        [([1, 2, 5],), ([2, 4],), ([2, 3],), ([1, 3],), ([4, 2, 5, 1],), (None,)],
        "items array<int>",
    )
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(tx)
    out = model.transform(tx)
    assert dict(out.dtypes)["prediction_items"] == "array<int>"
    rule_rows = model.association_rules().collect()
    got = sorted((r["items"] or [], r.prediction_items) for r in out.collect())
    want = sorted((r["items"] or [], predict_items(rule_rows, r["items"])) for r in tx.collect())
    assert got == want


_ITEMS = st.sampled_from(["a", "b", "c", "d", None])
_RULES = st.lists(st.fixed_dictionaries({
    "antecedent": st.lists(_ITEMS, max_size=3, unique=True),
    "consequent": st.lists(_ITEMS, min_size=1, max_size=1),
    "lift": st.sampled_from([None, 0.5, 1.0, 2.0]),
}), max_size=12)


@settings(max_examples=200, deadline=None)
@given(rules=_RULES, basket=st.none() | st.lists(_ITEMS, max_size=5))
def test_rule_index_matches_spec(rules, basket):
    """The compiled index (rarest-item filing, total order, null items,
    empty antecedents) answers like the spec, without Spark."""
    index = transform_mod.compile_rules(rules)
    assert transform_mod.predict(index, basket) == predict_items(rules, basket)


def _plan_nodes(plan):
    """Every physical node reachable through ``children()``; AQE's
    current plan (exchanges included) stands in for the adaptive
    wrapper. Cached relations are leaves, so a cached input's own plan
    is not walked."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    yield plan
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_transform_plan_is_one_projection(spark, fpm_train):
    """Rule application is a per-row projection over the dataset: one
    Python evaluation of the items column and no exchange, aggregate or
    join anywhere in the plan."""
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    plan = model.transform(fpm_train)._jdf.queryExecution().executedPlan()
    nodes = list(_plan_nodes(plan))
    names = [n.nodeName() for n in nodes]
    assert not [n for n in nodes if "hashpartitioning" in n.simpleString(100)]
    assert not [n for n in names if "Exchange" in n or "Aggregate" in n or "Join" in n], names
    assert names.count("ArrowEvalPython") == 1, names


def test_extra_columns_pass_through(spark, fpm_train):
    """Only the items column crosses into Python: map, struct and
    interval columns (Arrow cannot carry the last) come back unchanged."""
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    df = fpm_train.selectExpr(
        "tid", "items", "map('k', tid) AS m", "named_struct('x', tid, 'y', items) AS s",
        "make_interval(0, 1, 0, CAST(tid AS INT), 2, 3, 4.5) AS iv",
    )
    out = model.transform(df)
    assert out.dtypes[: len(df.columns)] == df.dtypes
    shown = "tid", "m", "s", "CAST(iv AS STRING) AS iv"
    assert sorted(out.selectExpr(*shown).collect()) == sorted(df.selectExpr(*shown).collect())
    rule_rows = model.association_rules().collect()
    want = {r.tid: predict(rule_rows, r["items"]) for r in fpm_train.collect()}
    assert {r.tid: r.prediction for r in out.select("tid", "prediction").collect()} == want


def test_model_unpersist_releases_rule_index(spark, fpm_train):
    model = FPGrowth(min_support=0.4, min_confidence=0.6).fit(fpm_train)
    rules = model.association_rules()
    before = sorted(model.transform(fpm_train).collect())
    index = transform_mod._INDEXES[rules]
    model.unpersist()
    assert rules not in transform_mod._INDEXES
    assert not index._jbroadcast.isValid()
    assert sorted(model.transform(fpm_train).collect()) == before


def test_rule_index_is_shared(spark, fpm_train, monkeypatch):
    """model.transform and transform_with_rules over the model's rules
    compile (and collect) the rules once."""
    compiled = []
    compile_rules = transform_mod.compile_rules
    monkeypatch.setattr(transform_mod, "compile_rules",
                        lambda rows: compiled.append(rows) or compile_rules(rows))
    model = FPGrowth(min_support=0.4, min_confidence=0.5).fit(fpm_train)
    a = model.transform(fpm_train).collect()
    b = transform_with_rules(fpm_train, model.association_rules()).collect()
    model.transform(fpm_train, keep_array=False).collect()
    assert len(compiled) == 1 and sorted(a) == sorted(b)
