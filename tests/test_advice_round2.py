"""Round-2 ADVICE items: model inherits the estimator's min_confidence,
null-lift ordering parity between transform and the spec, reserved-column
collision guards, explicit cache release, and the reference's
self-recommendation transform overload (pfp/FPGrowth.scala:124-148)."""

from __future__ import annotations

import pytest

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth


@pytest.mark.fpm
def test_model_inherits_estimator_min_confidence(fpm_train):
    """FPGrowth(min_confidence=x).fit(df).transform(df) must apply x,
    not a hard-coded 0.8 (epfp/FPGrowth.scala genericFit attaches
    minConfidence to the fitted model)."""
    low = FPGrowth(min_support=0.4, min_confidence=0.0).fit(fpm_train)
    high = FPGrowth(min_support=0.4, min_confidence=0.8).fit(fpm_train)
    assert low.min_confidence == 0.0
    # default-arg call uses the estimator's threshold
    assert low.association_rules().count() == 11
    assert high.association_rules().count() < 11
    # explicit override still wins
    assert low.association_rules(0.8).count() == high.association_rules().count()
    # transform default follows suit: lower threshold -> more predictions
    n_low = (
        low.transform(fpm_train)
        .selectExpr("sum(size(prediction_items)) AS n")
        .collect()[0]
        .n
    )
    n_high = (
        high.transform(fpm_train)
        .selectExpr("sum(size(prediction_items)) AS n")
        .collect()[0]
        .n
    )
    assert n_low > n_high


@pytest.mark.fpm
def test_null_lift_rules_order_identically_across_strategies(spark):
    """Externally supplied rules with null lift must sort LAST (-inf) in
    transform, exactly as in the pure-Python spec, not first."""
    from fpm_spec import predict
    from optimal_parallel_fp_growth_spark.operators.transform import (
        transform_with_rules,
    )

    rules = spark.createDataFrame(
        [
            (["a"], ["x"], 2.0),
            (["a"], ["y"], None),  # null lift
            (["a"], ["z"], 1.0),
        ],
        "antecedent array<string>, consequent array<string>, lift double",
    )
    baskets = spark.createDataFrame([(1, ["a"])], "id long, items array<string>")
    declarative = transform_with_rules(baskets, rules).collect()[0].prediction
    spec = predict(rules.collect(), ["a"])
    assert declarative == spec == "x, z, y"


def test_reserved_column_guards_raise(spark):
    from optimal_parallel_fp_growth_spark.operators.sampling import (
        mix_sources,
        corpus_split,
    )
    from optimal_parallel_fp_growth_spark.sources.sinks import write_sharded

    df = spark.createDataFrame(
        [(1, "a", 0, "train", 1)],
        "doc_id long, source string, shard int, split string, keep_below int",
    )
    with pytest.raises(ValueError, match="shard"):
        write_sharded(df, "/tmp/never-written", 2, "doc_id")
    with pytest.raises(ValueError, match="keep_below"):
        mix_sources(df, {"a": 0.5})
    with pytest.raises(ValueError, match="split"):
        corpus_split(df, [("train", 0.9), ("val", 0.1)])


def test_release_cached_inputs_unpersists(spark, sf_small):
    from optimal_parallel_fp_growth_spark.functions import caching
    from optimal_parallel_fp_growth_spark.operators.dedup import minhash_lsh_pairs
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    caching.release_cached_inputs()  # clean slate
    docs = load_table(spark, sf_small, "documents")
    pairs = minhash_lsh_pairs(docs)
    pairs.count()  # materialize while the signature cache is warm
    cached = [c for c in caching._PENDING if hasattr(c, "storageLevel")]
    assert cached and all(c.storageLevel.useMemory for c in cached)
    released = caching.release_cached_inputs(pairs)
    assert released >= len(cached)
    assert all(not c.storageLevel.useMemory for c in cached)
    assert caching.release_cached_inputs(pairs) == 0  # idempotent


def test_release_survives_wrapped_outputs(spark, sf_small):
    """Round-3 regression (VERDICT): dedup_clusters projects
    minhash_lsh_pairs' output, which used to drop the attribute tag and
    leak the persisted signature DataFrame. The registry survives any
    wrapping: after materialize + release, the JVM holds NO persistent
    RDDs at all (caches and localCheckpoint blocks both freed)."""
    from optimal_parallel_fp_growth_spark.functions.caching import (
        persistent_rdd_ids,
        release_cached_inputs,
    )
    from optimal_parallel_fp_growth_spark.operators.dedup import dedup_clusters
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    release_cached_inputs()  # clean slate from other tests
    baseline = persistent_rdd_ids(spark)
    docs = load_table(spark, sf_small, "documents")
    out = dedup_clusters(docs)
    out.count()
    assert release_cached_inputs(out) >= 1
    leaked = persistent_rdd_ids(spark) - baseline
    assert not leaked, f"leaked persistent RDDs: {leaked}"


def test_release_covers_pagerank_blocks(spark, sf_small):
    """pagerank's final-round localCheckpoint blocks join the same
    tag/release lifecycle; after release nothing stays persisted."""
    from optimal_parallel_fp_growth_spark.functions.caching import (
        persistent_rdd_ids,
        release_cached_inputs,
    )
    from optimal_parallel_fp_growth_spark.operators.graph import pagerank

    release_cached_inputs()
    baseline = persistent_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    r = pagerank(edges, n_iter=3, redistribute_dangling=True)
    r.count()
    assert release_cached_inputs(r) >= 1
    leaked = persistent_rdd_ids(spark) - baseline
    assert not leaked, f"leaked persistent RDDs: {leaked}"


@pytest.mark.fpm
def test_model_unpersist_releases_rules_and_itemsets(spark, fpm_train):
    """The itemsets and rules are local relations on the driver: fit,
    rules, transform and unpersist leave no persistent RDD behind."""
    from optimal_parallel_fp_growth_spark.functions.caching import persistent_rdd_ids

    baseline = persistent_rdd_ids(spark)
    model = FPGrowth(min_support=0.4, min_confidence=0.6).fit(fpm_train)
    rules = model.association_rules()
    rules.count()
    model.transform(fpm_train).collect()
    assert model.freq_itemsets.isLocal() and rules.isLocal()
    model.unpersist()
    leaked = persistent_rdd_ids(spark) - baseline
    assert not leaked, f"leaked persistent RDDs: {leaked}"


@pytest.mark.fpm
def test_transform_self_matches_manual(fpm_train):
    """transform_self == transform over the distinct rule antecedents
    (pfp/FPGrowth.scala:124-148 round-trips them through makeRDD)."""
    from pyspark.sql import functions as F

    model = FPGrowth(min_support=0.4, min_confidence=0.6).fit(fpm_train)
    rules = model.association_rules()
    baskets = rules.select(F.col("antecedent").alias("items")).distinct()
    expect = {
        tuple(r["items"]): r["prediction"]
        for r in model.transform(baskets).collect()
    }
    got = {
        tuple(r["items"]): r["prediction"]
        for r in model.transform_self().collect()
    }
    assert got == expect
    assert len(got) == baskets.count()


def test_repetition_signals_hand_values(spark):
    from optimal_parallel_fp_growth_spark.operators.textops import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # fully loopy
            (2, "w x y z"),          # fully distinct
            (3, "solo"),             # < 2 tokens: no 2-grams
            (4, "a b a b a"),        # period-2 loop
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(docs).collect()}
    r1 = got[1]
    assert (r1.n_tokens, r1.distinct_ratio, r1.top_token_frac) == (4, 0.25, 1.0)
    assert r1.top_2gram_frac == 1.0  # "a a" is all 3 grams
    r2 = got[2]
    assert (r2.distinct_ratio, r2.top_token_frac, r2.top_2gram_frac) == (
        1.0,
        0.25,
        0.333333,  # 3 bigrams, each unique
    )
    r3 = got[3]
    assert (r3.n_tokens, r3.top_2gram_frac) == (1, 0.0)
    r4 = got[4]
    assert r4.n_tokens == 5 and r4.top_token_frac == 0.6
    assert r4.top_2gram_frac == 0.5  # "a b" twice of 4 grams
