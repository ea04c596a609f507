"""Cross-kernel agreement: the self-contained pandas PFP kernel must mine
exactly the same itemsets as MLlib's JVM kernel (the reference's upstream),
with both balanced (EPFP) and hash (PFP) group assignment. Its stage
functions are also checked against the pure-Python spec without Spark."""

from __future__ import annotations

import math
import re
from collections import Counter
from contextlib import contextmanager

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from fpm_spec import canonical, frequent_itemsets
from optimal_parallel_fp_growth_spark import FPGrowth
from optimal_parallel_fp_growth_spark.operators import pfp_kernel
from optimal_parallel_fp_growth_spark.operators.balanced import (
    balanced_group_assignment,
    hash_group_assignment,
)
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_events,
    transactions_from_lineitem,
)

pytestmark = pytest.mark.fpm


def as_dict(df):
    return {tuple(r["items"]): r["freq"] for r in df.collect()}


@pytest.mark.parametrize("balanced", [True, False])
def test_kernels_agree_on_events(spark, sf_small, balanced):
    tx = transactions_from_events(spark, sf_small)
    ml = FPGrowth(min_support=0.03, kernel="mllib").fit(tx)
    pd_ = FPGrowth(min_support=0.03, kernel="pandas", balanced=balanced,
                   num_partitions=4).fit(tx)
    assert as_dict(pd_.freq_itemsets) == as_dict(ml.freq_itemsets)


def test_kernels_agree_on_lineitem(spark, sf_small):
    tx = transactions_from_lineitem(spark, sf_small)
    ml = FPGrowth(min_support=0.002, kernel="mllib").fit(tx)
    pd_ = FPGrowth(min_support=0.002, kernel="pandas").fit(tx)
    assert as_dict(pd_.freq_itemsets) == as_dict(ml.freq_itemsets)


def test_empty_result(spark, sf_small):
    tx = transactions_from_events(spark, sf_small)
    model = FPGrowth(min_support=0.99, kernel="pandas").fit(tx)
    assert model.freq_itemsets.count() == 0
    assert model.association_rules(0.5).count() == 0


def test_single_group(spark, fpm_train):
    # num_partitions=1 is the reference's "sequential FP" baseline (fp/FP.scala:33)
    model = FPGrowth(min_support=0.4, kernel="pandas", num_partitions=1).fit(fpm_train)
    assert model.freq_itemsets.count() == 10


@pytest.mark.parametrize("balanced", [True, False])
def test_grouped_mining_matches_per_corpus_runs(spark, sf_small, balanced):
    """mine_pandas_by(corpus_col) must equal MLlib run once per corpus at
    that corpus's own ceil(minSupport·n) threshold — per-corpus
    dictionaries and thresholds, no cross-corpus leakage."""
    from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas_by
    from optimal_parallel_fp_growth_spark.plans.transactions import (
        transactions_from_documents_by_lang,
    )

    ms = 0.6
    tx = transactions_from_documents_by_lang(spark, sf_small)
    got = {
        (r["lang"], tuple(sorted(r["items"]))): r["freq"]
        for r in mine_pandas_by(
            tx, "lang", min_support=ms, num_partitions=4, balanced=balanced
        ).collect()
    }

    want = {}
    for lang_row in tx.select("lang").distinct().collect():
        lang = lang_row["lang"]
        sub = tx.where(F.col("lang") == lang).select("items")
        # MLlib's own threshold is ceil(minSupport · |sub|)
        model = FPGrowth(min_support=ms, kernel="mllib").fit(sub)
        for r in model.freq_itemsets.collect():
            want[(lang, tuple(r["items"]))] = r["freq"]

    assert got == want
    assert len({lang for lang, _ in got}) > 1  # exercised multiple corpora


def test_grouped_mining_empty_and_unknown_corpus(spark):
    from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas_by

    empty = spark.createDataFrame([], "lang string, items array<string>")
    assert mine_pandas_by(empty, "lang", min_support=0.5).count() == 0
    # all-infrequent input → empty, not an error
    rows = [("a", ["x"]), ("a", ["y"]), ("a", ["z"])]
    df = spark.createDataFrame(rows, "lang string, items array<string>")
    assert mine_pandas_by(df, "lang", min_support=0.9).count() == 0

    def mined(rows):
        df = spark.createDataFrame(rows, "lang string, items array<string>")
        return sorted(
            (r["lang"], tuple(sorted(r["items"])), r["freq"])
            for r in mine_pandas_by(df, "lang", min_support=0.5).collect()
        )

    # a null corpus key next to a non-null one: its rows are dropped
    assert mined([("a", ["x"]), (None, ["x"]), (None, ["y"])]) == [("a", ("x",), 1)]
    # a null basket is dropped before the corpus size is counted, so
    # corpus "a" has n = 2 and min_count = 1
    assert mined([("a", ["x", "y"]), ("a", None), ("a", ["x"])]) == [
        ("a", ("x",), 2),
        ("a", ("x", "y"), 1),
        ("a", ("y",), 1),
    ]


def test_null_item_is_mined_as_an_item(spark):
    """A null element inside a basket is an item like any other, even when
    its frequency ties with a non-null item's in the rank dictionary, on
    string and on integer baskets; beside a null, longs above 2^53 keep
    their identity (pandas hands over an integer array that holds a null
    as floats)."""
    from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas

    cases = [
        ("string", [["x", None], ["x"], [None]]),
        ("int", [[1, None], [1], [None]]),
        ("bigint", [[1, None], [1], [None]]),
        ("bigint", [[2**53 + 1, None], [2**53 + 1], [2**53, 7]]),
    ]
    for item_dt, baskets in cases:
        df = spark.createDataFrame([(b,) for b in baskets], f"items array<{item_dt}>")
        got = {tuple(canonical(r["items"])): r["freq"] for r in mine_pandas(df, 1).collect()}
        assert got == frequent_itemsets(baskets, 1), (item_dt, baskets)


def test_balanced_assignment_properties():
    for n_items, n_groups in [(0, 4), (3, 4), (100, 4), (1000, 7)]:
        a = balanced_group_assignment(n_items, n_groups)
        assert len(a) == n_items
        assert all(0 <= g < n_groups for g in a)
        if n_items >= n_groups:
            assert len(set(a)) == n_groups  # every group used
    h = hash_group_assignment(10, 3)
    assert h == [0, 1, 2, 0, 1, 2, 0, 1, 2, 0]


def test_balanced_is_more_balanced_than_hash():
    """The greedy should spread log-weight strictly better than modulo on
    a tail-heavy rank distribution."""
    import math

    n, g = 10_000, 8
    for assign_fn in (balanced_group_assignment,):
        a = assign_fn(n, g)
        w = [0.0] * g
        for r, grp in enumerate(a):
            w[grp] += math.log(r + 2)
        spread_balanced = max(w) - min(w)
    hw = [0.0] * g
    for r, grp in enumerate(hash_group_assignment(n, g)):
        hw[grp] += math.log(r + 2)
    spread_hash = max(hw) - min(hw)
    assert spread_balanced <= spread_hash


ITEMS = ["a", "b", "c", "d", "e", "f", "", None]


@settings(max_examples=300, deadline=None)
@given(
    baskets=st.lists(st.lists(st.sampled_from(ITEMS), max_size=6), max_size=30),
    min_count=st.integers(1, 4),
    as_long=st.booleans(),
)
def test_projection_mining_matches_spec(baskets, min_count, as_long):
    """Without Spark: the three stage functions, composed for one corpus
    under balanced and hash assignment and 1, 2, 7 or more groups than
    items, equal the spec's brute force, and each itemset comes out of
    exactly one group. Stage 2 sees each item's string form, as Spark's
    cast hands it over; ``as_long`` maps the items to longs around 2^53."""
    if as_long:
        baskets = [[None if i is None else 2**53 + ITEMS.index(i) for i in b] for b in baskets]
    want = frequent_itemsets(baskets, min_count)
    freq = Counter(i for b in baskets for i in set(b))
    rows = [(i, None if i is None else str(i), f) for i, f in freq.items() if f >= min_count]
    keys = [[None if i is None else str(i) for i in b] for b in baskets]
    for balanced in (True, False):
        for num_groups in (1, 2, 7, len(rows) + 1):
            d = pfp_kernel.build_dictionary(rows, min_count, num_groups, balanced)
            cond: dict[int, list] = {}
            for b in keys:
                for g, ranks in pfp_kernel.cond_transactions(b, d):
                    cond.setdefault(g, []).append((ranks, 1))
            got = [
                (tuple(canonical(items)), f)
                for g, db in cond.items()
                for items, f in pfp_kernel.group_patterns(
                    db, d, 0, g, pfp_kernel._MAX_GROUP_ROWS
                )
            ]
            assert len(got) == len(dict(got)) and dict(got) == want, (balanced, num_groups)


ADVICE = ("num_partitions", "min_support", "kernel='mllib'")


def test_group_bound_stops_the_merge():
    """Without Spark: the guard raises at the first row past the bound,
    so a group far over it is not read, let alone held, in full."""
    d = pfp_kernel.build_dictionary([("a", "a", 9), ("b", "b", 9)], 1, 1, True)
    distinct = [(0,), (1,), (0, 1)]
    consumed = 0

    def rows():
        nonlocal consumed
        for i in range(1000):
            consumed += 1
            yield distinct[i % 3], 1

    with pytest.raises(RuntimeError, match="has 3 distinct conditional transactions"):
        pfp_kernel.group_patterns(rows(), d, 0, 0, 2)
    assert consumed == 3


def test_heavy_group_fails_with_advice(spark, fpm_train, monkeypatch):
    monkeypatch.setattr(pfp_kernel, "_MAX_GROUP_ROWS", 1)
    est = FPGrowth(min_support=0.4, kernel="pandas", num_partitions=1)
    with pytest.raises(PythonException) as info:
        est.fit(fpm_train)
    message = str(info.value)
    for advice in ADVICE:
        assert advice in message, message


# One group over identical baskets spread across 3 partitions and 2-row
# Arrow batches: every partition holds all 4 distinct baskets.
SPREAD = [["a", "b", "c"], ["a", "b"], ["a", "c", "d"], ["b", "e"]] * 5


@contextmanager
def arrow_batch_rows(spark, rows):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key, None)
    spark.conf.set(key, str(rows))
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def shuffled_rows(df):
    """Records written to the shuffle of ``df``'s executed plan."""

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            yield from walk(node.plan())
        else:
            yield node
            kids = node.children()
            for i in range(kids.size()):
                yield from walk(kids.apply(i))

    return sum(
        int(n.metrics().apply("shuffleRecordsWritten").value())
        for n in walk(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "Exchange"
    )


def test_map_tasks_combine_across_batches(spark, monkeypatch):
    """Each map task merges identical conditional transactions over all
    its Arrow batches, so the one group receives (map tasks × distinct)
    rows, not one per batch. Flushing after every batch leaves the merge
    to the group and mines the same itemsets."""
    def mined(df):
        return {tuple(sorted(items)): freq for items, freq in as_dict(df).items()}

    min_count = math.ceil(0.2 * len(SPREAD))
    want = frequent_itemsets(SPREAD, min_count)
    tx = spark.createDataFrame(
        spark.sparkContext.parallelize([(b,) for b in SPREAD], 3), "items array<string>"
    )
    with arrow_batch_rows(spark, 2):
        out = pfp_kernel.mine_pandas(tx, min_count, num_partitions=1)
        assert mined(out) == want
        assert shuffled_rows(out) == 3 * 4
        monkeypatch.setattr(pfp_kernel, "_COMBINE_KEYS", 1)
        out = pfp_kernel.mine_pandas(tx, min_count, num_partitions=1)
        assert mined(out) == want
        assert shuffled_rows(out) == len(SPREAD)


def test_group_guard_counts_distinct_transactions(spark, monkeypatch):
    """Equal conditional transactions reach the one group from different
    map tasks, and the guard counts them once after the group's merge — a
    bound equal to the distinct count mines, one less fails with the
    advice."""
    min_support = 0.2
    min_count = math.ceil(min_support * len(SPREAD))
    want = frequent_itemsets(SPREAD, min_count)
    frequent = {items[0] for items in want if len(items) == 1}
    distinct = len({frozenset(b) & frequent for b in SPREAD} - {frozenset()})
    tx = spark.createDataFrame(
        spark.sparkContext.parallelize([(b,) for b in SPREAD], 3), "items array<string>"
    )
    est = FPGrowth(min_support=min_support, kernel="pandas", num_partitions=1)
    with arrow_batch_rows(spark, 2):
        monkeypatch.setattr(pfp_kernel, "_MAX_GROUP_ROWS", distinct)
        assert as_dict(est.fit(tx).freq_itemsets) == want
        monkeypatch.setattr(pfp_kernel, "_MAX_GROUP_ROWS", distinct - 1)
        with pytest.raises(PythonException) as info:
            est.fit(tx)
    message = str(info.value)
    assert f"has {distinct} distinct conditional transactions" in message, message
    for advice in ADVICE:
        assert advice in message, message


def test_mining_plan_has_one_shuffle(spark, fpm_train):
    """Conditional transactions are merged in the two Python stages, not
    by a Spark aggregate: between ``gen_cond`` (MapInPandas) and
    ``mine_group`` (FlatMapGroupsInPandas) the executed plan has exactly
    one exchange, the repartition on (corpus, group)."""
    out = pfp_kernel.mine_pandas(fpm_train, 2, num_partitions=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    between = final[final.index("FlatMapGroupsInPandas") : final.index("MapInPandas")]
    exchanges = [line for line in between.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, plan
    assert "REPARTITION_BY_NUM" in exchanges[0], plan
    assert re.search(r"hashpartitioning\(corpus#\d+, group#\d+, \d+\)", exchanges[0]), plan
    assert "HashAggregate" not in plan, plan
