"""The fitted model is local: ``fit`` collects the mined itemsets once,
derives the rules on the driver, and serves both as local relations.

- The driver derivation (``rules.derive_rules``) equals the brute-force
  spec ``fpm_spec.association_rules`` exactly, floats compared with
  ``==``, on itemset tables that need not be downward-closed.
- Collecting the itemsets and the rules after ``fit`` launches no Spark
  job, on both kernels, and the schemas are the mined ones.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fpm_spec import association_rules as spec_rules
from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.operators.rules import derive_rules

pytestmark = pytest.mark.fpm


def _canonical(items) -> tuple:
    """Spark's array_sort order: ascending, nulls last."""
    return tuple(sorted(items, key=lambda x: (x is None, x)))


@st.composite
def itemset_tables(draw):
    alphabet = draw(st.sampled_from([["a", "b", "c", "d"], [1, 2, 3, 4]])) + [None]
    table = draw(st.dictionaries(
        st.frozensets(st.sampled_from(alphabet), min_size=1, max_size=4).map(_canonical),
        st.integers(1, 40),
        max_size=24,
    ))
    n = draw(st.integers(max(table.values(), default=1), 60))
    return table, n


@settings(max_examples=300, deadline=None)
@given(
    table_n=itemset_tables(),
    min_confidence=st.one_of(st.sampled_from([0.0, 1.0]), st.floats(0.0, 1.0)),
)
def test_driver_rules_equal_spec(table_n, min_confidence):
    table, n = table_n
    got = derive_rules(list(table.items()), n, min_confidence)
    got = [(tuple(a), tuple(c), conf, lift, sup) for a, c, conf, lift, sup in got]
    assert Counter(got) == Counter(spec_rules(table, n, min_confidence))


ITEMS = {"string": ("array<string>", [["a", "b", "c"], ["a", "b"], ["b", "c"], ["a", None]]),
         "int": ("array<int>", [[1, 2, 3], [1, 2], [2, 3], [1, None]])}


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
@pytest.mark.parametrize("item_type", sorted(ITEMS))
def test_model_collects_launch_no_jobs(spark, kernel, item_type):
    ddl, baskets = ITEMS[item_type]
    elem = ddl[len("array<"):-1]
    tx = spark.createDataFrame([(b,) for b in baskets], f"items {ddl}")
    model = FPGrowth(min_support=0.25, min_confidence=0.0, kernel=kernel).fit(tx)
    sc = spark.sparkContext
    group = f"local-model-{kernel}-{item_type}"
    sc.setJobGroup(group, "collect the fitted model")
    try:
        itemsets = model.freq_itemsets.collect()
        rules = model.association_rules().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert model.freq_itemsets.isLocal() and model.association_rules().isLocal()
    assert model.freq_itemsets.dtypes == [("items", f"array<{elem}>"), ("freq", "bigint")]
    assert model.association_rules().dtypes == [
        ("antecedent", f"array<{elem}>"), ("consequent", f"array<{elem}>"),
        ("confidence", "double"), ("lift", "double"), ("support", "double"),
    ]
    table = {tuple(r["items"]): r["freq"] for r in itemsets}
    assert all(k == _canonical(k) for k in table) and len(table) == len(itemsets)
    want = spec_rules(table, len(baskets), 0.0)
    assert rules and Counter((tuple(r[0]), tuple(r[1]), *r[2:]) for r in rules) == Counter(want)


@pytest.mark.parametrize("kernel", ["mllib", "pandas"])
@pytest.mark.parametrize("item_type", sorted(ITEMS))
def test_empty_input_gives_empty_local_frames(spark, kernel, item_type):
    ddl = ITEMS[item_type][0]
    tx = spark.createDataFrame([], f"items {ddl}")
    model = FPGrowth(min_support=0.5, kernel=kernel).fit(tx)
    rules = model.association_rules()
    assert model.freq_itemsets.isLocal() and rules.isLocal()
    assert model.freq_itemsets.collect() == [] and rules.collect() == []
    assert model.freq_itemsets.dtypes == [("items", ddl), ("freq", "bigint")]
    assert rules.dtypes == [("antecedent", ddl), ("consequent", ddl), ("confidence", "double"),
                            ("lift", "double"), ("support", "double")]
