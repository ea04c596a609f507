"""Property-based differential test: on random small transaction sets,
both kernels must equal the spec's brute-force itemset enumeration (the
pandas kernel under every group assignment and group count), predictions
must equal the pure-Python spec, and rules must satisfy their defining
identities."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fpm_spec import canonical, frequent_itemsets, predict

pytestmark = pytest.mark.fpm

ALPHABET = ["a", "b", "c", "d", "e"]

baskets_strategy = st.lists(
    st.sets(st.sampled_from(ALPHABET), min_size=1).map(sorted),
    min_size=1,
    max_size=12,
)

# The odd items too: null, and "" (what the text source makes of empty
# lines and repeated spaces). As longs, the letters straddle 2^53.
ODD_ALPHABET = [*ALPHABET, "", None]
AS_LONG = {item: 2**53 + i for i, item in enumerate(ODD_ALPHABET[:-1])} | {None: None}

odd_baskets_strategy = st.lists(
    st.sets(st.sampled_from(ODD_ALPHABET), min_size=1).map(canonical),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    baskets=odd_baskets_strategy,
    item_dt=st.sampled_from(["string", "bigint"]),
    min_support=st.sampled_from([0.2, 0.4, 0.6]),
    balanced=st.booleans(),
    num_partitions=st.sampled_from([1, 2, 7, 64]),
    layout=st.tuples(st.sampled_from([None, 1, 3]), st.sampled_from([None, 2])),
)
def test_both_kernels_match_brute_force(
    spark, baskets, item_dt, min_support, balanced, num_partitions, layout
):
    """``item_dt`` is the baskets' item type: ``string``, or ``bigint``
    with the letters mapped to longs. ``layout`` is the input's partition
    count (None: a local relation from the plain list) and, when not
    None, a 2-row Arrow batch: identical conditional transactions then
    reach a mining group from different batches and map tasks."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth

    if item_dt == "bigint":
        baskets = [[AS_LONG[i] for i in b] for b in baskets]
    input_partitions, batch_rows = layout
    rows = [(b,) for b in baskets]
    if input_partitions is not None:
        rows = spark.sparkContext.parallelize(rows, input_partitions)
    tx = spark.createDataFrame(rows, f"items array<{item_dt}>")
    want = frequent_itemsets(baskets, math.ceil(min_support * len(baskets)))
    probes = spark.createDataFrame(
        list(enumerate([*baskets, None])), f"id long, items array<{item_dt}>"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key, None)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        for kernel in ("mllib", "pandas"):
            model = FPGrowth(
                min_support=min_support,
                min_confidence=0.0,
                kernel=kernel,
                balanced=balanced,
                num_partitions=num_partitions,
            ).fit(tx)
            got = {
                tuple(r["items"]): r["freq"] for r in model.freq_itemsets.collect()
            }
            where = (
                f"kernel={kernel} balanced={balanced} num_partitions={num_partitions} "
                f"layout={layout} {item_dt} baskets={baskets} s={min_support}"
            )
            assert got == want, where
            rules = model.association_rules().collect()
            preds = {r["id"]: r["prediction"] for r in model.transform(probes).collect()}
            assert preds == {
                i: predict(rules, b) for i, b in enumerate([*baskets, None])
            }, where
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(baskets=baskets_strategy)
def test_rule_identities(spark, baskets):
    """confidence = freq(A∪c)/freq(A); support = freq(A∪c)/N;
    lift = confidence/support(c); antecedent ∌ consequent."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth

    n = len(baskets)
    tx = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    model = FPGrowth(min_support=0.2, kernel="mllib").fit(tx)
    fis = {tuple(r["items"]): r["freq"] for r in model.freq_itemsets.collect()}
    for r in model.association_rules(0.0).collect():
        ante, cons = tuple(sorted(r.antecedent)), r.consequent[0]
        union = tuple(sorted([*ante, cons]))
        assert cons not in ante
        assert math.isclose(r.confidence, fis[union] / fis[ante])
        assert math.isclose(r.support, fis[union] / n)
        assert math.isclose(r.lift, r.confidence / (fis[(cons,)] / n))
