"""The benchmark's workloads.

Each workload generates its inputs from the run's seed, sets up (fit,
warm-up), and defines one operation, run untraced for end-to-end timing
and replayed traced (explicit calls into each layer, each forced inside
its own span) for the per-layer numbers. Every operation's output is
checked against an independent oracle.
"""

from __future__ import annotations

import bisect
import itertools
import math
import os
import random
import statistics

from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators import pfp_kernel
from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.operators.rules import association_rules
from optimal_parallel_fp_growth_spark.operators.transform import transform_with_rules
from optimal_parallel_fp_growth_spark.sources.text import read_baskets_text

import oracle
from gen import BasketGenerator, Catalog, write_baskets

# Sizes keep one run, set-up included, within about a minute on 4 cores
# while every timed operation is seconds long.
MINE_BASKETS = 10_000
MINE_MIN_SUPPORT = 0.02
MINE_MIN_CONFIDENCE = 0.3
TRAIN_BASKETS = 5_000
SERVE_MIN_SUPPORT = 0.05
SERVE_MIN_CONFIDENCE = 0.3
BATCH_BASKETS = 2_000
POOL_BASKETS = 1_000
POOL_ZIPF_S = 1.1
REQUEST_BASKETS = 16


class Workload:
    name = ""

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.catalog = Catalog()

    def gen(self, stream: str, n: int) -> list[list[str]]:
        return BasketGenerator(self.catalog, f"{self.seed}/{stream}").baskets(n)

    def write(self, name: str, baskets: list[list[str]]) -> str:
        path = os.path.join(self.workdir, name)
        write_baskets(path, baskets)
        return path

    # Subclasses define: setup(spark), warm_up(spark), prepare_check(spark),
    # next_input(), run(spark, inp), run_traced(spark, tracer, inp),
    # check(result, inp), baskets(inp), and layers(tracer, spans, result,
    # inp) → per-layer metrics. Workloads whose set-up fits a model also
    # define replay_setup(spark, tracer) and setup_layers(tracer, spans,
    # result).


def traced_fit(tracer, spark, path: str, min_support: float, min_confidence: float):
    """FPGrowth(kernel="pandas", balanced=True).fit + rules, replayed as
    explicit layer calls. → (itemset rows, rule rows, rules DataFrame,
    itemsets DataFrame, per-layer attrs); both DataFrames are cached."""
    attrs = {}
    with tracer.span("sources.text"):
        items = read_baskets_text(spark, path).select("items").where(F.col("items").isNotNull())
        items.persist()
        n = items.count()
    attrs["sources.text.partitions"] = items.rdd.getNumPartitions()
    attrs["sources.text.rows"] = n

    assigned = {}
    original = pfp_kernel.balanced_group_assignment

    def balanced(num_items: int, num_groups: int) -> list[int]:
        with tracer.span("operators.balanced"):
            out = original(num_items, num_groups)
        weight = [0.0] * num_groups
        for rank, g in enumerate(out):
            weight[g] += math.log(rank + 2)
        assigned["weight_max_over_mean"] = max(weight) / statistics.fmean(weight)
        return out

    with tracer.span("operators.fpgrowth"):
        min_count = FPGrowth(min_support=min_support).min_count(n)
        pfp_kernel.balanced_group_assignment = balanced
        try:
            with tracer.span("operators.pfp_kernel.dictionary"):
                freq = pfp_kernel.mine_pandas(items, min_count=min_count, balanced=True)
        finally:
            pfp_kernel.balanced_group_assignment = original
        with tracer.span("operators.pfp_kernel.mine"):
            canon = freq.select(F.array_sort("items").alias("items"), "freq")
            canon.persist()
            canon.count()
        itemsets = canon.collect()
        items.unpersist()
    attrs["balanced.weight_max_over_mean"] = assigned.get("weight_max_over_mean", 1.0)

    with tracer.span("operators.rules"):
        rules = association_rules(canon, n, min_confidence).cache()
        rule_rows = rules.collect()
    attrs["rules.candidates"] = sum(len(r["items"]) for r in itemsets if len(r["items"]) >= 2)
    return itemsets, rule_rows, rules, canon, attrs


def _pfp_metrics(tracer, spans: dict) -> dict:
    dictionary, mine = spans["operators.pfp_kernel.dictionary"], spans["operators.pfp_kernel.mine"]
    emitted = cond_rows = python_s = 0.0
    skew = 1.0
    for name, metrics in mine.spark.get("plan", []):
        if name == "MapInPandas":
            emitted += metrics.get("number of output rows", {}).get("total", 0)
        if name in ("MapInPandas", "FlatMapGroupsInPandas"):
            python_s += metrics.get("time to run Python workers", {}).get("total", 0.0)
        if name == "FlatMapGroupsInPandas":
            t = metrics.get("time to run Python workers", {})
            if t.get("med"):
                skew = t["max"] / t["med"]
            if "stage" in t:
                cond_rows += mine.spark["shuffle_read_records"].get(t["stage"], 0)
    return {
        "pfp_kernel.dictionary_s": dictionary.duration,
        "pfp_kernel.mine_s": mine.duration,
        "pfp_kernel.cond_rows": cond_rows,
        "pfp_kernel.combine_ratio": cond_rows / emitted if emitted else 0.0,
        "pfp_kernel.shuffle_mb": (dictionary.spark["shuffle_write_bytes"]
                                  + mine.spark["shuffle_write_bytes"]) / 2**20,
        "pfp_kernel.python_task_s": python_s,
        "pfp_kernel.failed_tasks": dictionary.spark["failed_tasks"] + mine.spark["failed_tasks"],
        "pfp_kernel.group_task_max_over_median": skew,
    }


def fit_metrics(tracer, spans: dict, attrs: dict, itemsets: int, rules: int) -> dict:
    fit, rule_span, text = spans["operators.fpgrowth"], spans["operators.rules"], spans["sources.text"]
    out = {
        "sources.text.scan_s": text.duration,
        "sources.text.partitions": attrs["sources.text.partitions"],
        "sources.text.rows_per_s": attrs["sources.text.rows"] / text.duration,
        "fpgrowth.fit_s": fit.duration,
        "fpgrowth.self_s": tracer.self_time(fit),
        "fpgrowth.jobs": fit.spark["jobs"],
        "fpgrowth.itemsets": itemsets,
        "balanced.assign_ms": spans["operators.balanced"].duration * 1000,
        "balanced.weight_max_over_mean": attrs["balanced.weight_max_over_mean"],
        "rules.s": rule_span.duration,
        "rules.candidates": attrs["rules.candidates"],
        "rules.count": rules,
        "rules.kept_ratio": rules / attrs["rules.candidates"] if attrs["rules.candidates"] else 0.0,
    }
    out.update(_pfp_metrics(tracer, spans))
    return out


def transform_metrics(span, baskets: list[list[str]], num_rules: int) -> dict:
    distinct = len({tuple(b) for b in baskets})
    pairs = distinct * num_rules
    matched = sum(m.get("number of output rows", {}).get("total", 0)
                  for name, m in span.spark.get("plan", []) if name == "BroadcastNestedLoopJoin")
    return {
        "transform.s": span.duration,
        "transform.distinct_ratio": distinct / len(baskets),
        "transform.pairs_tested": pairs,
        "transform.match_ratio": matched / pairs if pairs else 0.0,
        "transform.shuffle_mb": span.spark["shuffle_write_bytes"] / 2**20,
        "transform.task_s": span.spark["run_s"],
        "transform.jobs": span.spark["jobs"],
        "transform.stages": span.spark["stages"],
    }


PLAN_SPANS = {"operators.pfp_kernel.mine", "operators.transform"}


class MineEPFP(Workload):
    """Fit FPGrowth(kernel="pandas", balanced=True) on a seeded file and
    materialise the itemsets and the rules."""

    name = "mine_epfp"

    def setup(self, spark) -> None:
        # Mining needs no model; set-up loads the engine with one mining
        # operation on a small file, which starts the session's Python
        # workers.
        self.path = self.write("mine.txt", self.gen("mine", MINE_BASKETS))
        small = self.write("small.txt", self.gen("small", MINE_BASKETS // 10))
        self._mine(spark, small)[0].unpersist()

    def warm_up(self, spark) -> None:
        self._mine(spark, self.path)[0].unpersist()

    def prepare_check(self, spark) -> None:
        from pyspark.ml.fpm import FPGrowth as MLlibFPGrowth

        df = spark.read.text(self.path).select(
            F.array_distinct(F.split("value", " ")).alias("items"))
        ref = MLlibFPGrowth(itemsCol="items", minSupport=MINE_MIN_SUPPORT).fit(df)
        pairs = [(r["items"], r["freq"]) for r in ref.freqItemsets.collect()]
        self.digest = oracle.itemset_digest(pairs)
        self.rules = oracle.reference_rules(pairs, MINE_BASKETS, MINE_MIN_CONFIDENCE)

    def _mine(self, spark, path):
        est = FPGrowth(min_support=MINE_MIN_SUPPORT, min_confidence=MINE_MIN_CONFIDENCE,
                       kernel="pandas", balanced=True)
        model = est.fit(read_baskets_text(spark, path))
        itemsets = model.freq_itemsets.collect()
        rules = model.association_rules().collect()
        return model, itemsets, rules

    def next_input(self):
        return self.path

    def baskets(self, inp) -> int:
        return MINE_BASKETS

    def run(self, spark, inp):
        model, itemsets, rules = self._mine(spark, inp)
        model.unpersist()
        return itemsets, rules

    def run_traced(self, spark, tracer, inp):
        itemsets, rules, rules_df, canon, attrs = traced_fit(
            tracer, spark, inp, MINE_MIN_SUPPORT, MINE_MIN_CONFIDENCE)
        rules_df.unpersist()
        canon.unpersist()
        return itemsets, rules, attrs

    def check(self, result, inp) -> bool:
        itemsets, rules = result[:2]
        return (oracle.itemset_digest((r["items"], r["freq"]) for r in itemsets) == self.digest
                and oracle.rules_match(rules, self.rules))

    def layers(self, tracer, spans, result, inp) -> dict:
        itemsets, rules, attrs = result
        return fit_metrics(tracer, spans, attrs, len(itemsets), len(rules))


class _Serving(Workload):
    """Shared set-up of the recommend workloads: fit once, then serve."""

    def setup(self, spark) -> None:
        self.spark = spark
        self.train_path = self.write("train.txt", self.gen("train", TRAIN_BASKETS))
        self.model = FPGrowth(min_support=SERVE_MIN_SUPPORT, min_confidence=SERVE_MIN_CONFIDENCE,
                              kernel="pandas", balanced=True).fit(
            read_baskets_text(spark, self.train_path))
        self.rules_df = self.model.association_rules()

    def prepare_check(self, spark) -> None:
        self.predictor = oracle.Predictor(self.rules_df.collect())
        self.num_rules = len(self.predictor.rules)

    def replay_setup(self, spark, tracer):
        """The set-up fit replayed traced, for the layers only set-up uses."""
        itemsets, rules, rules_df, canon, attrs = traced_fit(
            tracer, spark, self.train_path, SERVE_MIN_SUPPORT, SERVE_MIN_CONFIDENCE)
        rules_df.unpersist()
        canon.unpersist()
        return itemsets, rules, attrs

    def setup_layers(self, tracer, spans, result) -> dict:
        itemsets, rules, attrs = result
        return fit_metrics(tracer, spans, attrs, len(itemsets), len(rules))

    def baskets(self, inp) -> int:
        return len(inp[1])

    def check(self, rows, inp) -> bool:
        return oracle.predictions_match(rows, self.predictor.expected(inp[1]))


class RecommendBatch(_Serving):
    """Score a fresh seeded file with model.transform into the noop sink."""

    name = "recommend_batch"

    def setup(self, spark) -> None:
        super().setup(spark)
        self.stream = BasketGenerator(self.catalog, f"{self.seed}/batch")
        self._ops = itertools.count()

    def warm_up(self, spark) -> None:
        warm = self.write("warmup.txt", self.gen("warmup", BATCH_BASKETS))
        self._score(read_baskets_text(spark, warm), self.model.transform).unpersist()

    @staticmethod
    def _score(df, transform):
        """Score into the noop sink. The scored rows are also cached
        (2k small rows), so the check reads them back without scoring
        again; the noop sink itself keeps nothing."""
        scored = transform(df).select("items", "prediction", "prediction_items").persist()
        scored.write.format("noop").mode("overwrite").save()
        return scored

    def next_input(self):
        baskets = self.stream.baskets(BATCH_BASKETS)
        return self.write(f"batch-{next(self._ops) % 2}.txt", baskets), baskets

    def run(self, spark, inp):
        return self._score(read_baskets_text(spark, inp[0]), self.model.transform), None

    def run_traced(self, spark, tracer, inp):
        with tracer.span("sources.text"):
            df = read_baskets_text(spark, inp[0])
            df.persist()
            n = df.count()
        text = {"partitions": df.rdd.getNumPartitions(), "rows": n}
        with tracer.span("operators.transform"):
            scored = self._score(df, lambda d: transform_with_rules(d, self.rules_df))
        df.unpersist()
        return scored, text

    def check(self, result, inp) -> bool:
        scored = result[0]
        rows = scored.collect()
        scored.unpersist()
        return super().check(rows, inp)

    def layers(self, tracer, spans, result, inp) -> dict:
        text, attrs = spans["sources.text"], result[1]
        out = transform_metrics(spans["operators.transform"], inp[1], self.num_rules)
        out.update({
            "sources.text.scan_s": text.duration,
            "sources.text.partitions": attrs["partitions"],
            "sources.text.rows_per_s": attrs["rows"] / text.duration,
        })
        return out


class RecommendOnline(_Serving):
    """Closed loop, one client: each request sends REQUEST_BASKETS baskets
    as an in-memory DataFrame through model.transform(...).collect()."""

    name = "recommend_online"

    def setup(self, spark) -> None:
        super().setup(spark)
        self.pool = self.gen("pool", POOL_BASKETS)
        self.pool_cum = list(itertools.accumulate(
            1.0 / (k + 1) ** POOL_ZIPF_S for k in range(POOL_BASKETS)))
        self.rng = random.Random(f"{self.seed}/requests")

    def warm_up(self, spark) -> None:
        for _ in range(2):
            self.run(spark, self.next_input())

    def next_input(self):
        picks = [bisect.bisect_left(self.pool_cum, self.rng.random() * self.pool_cum[-1])
                 for _ in range(REQUEST_BASKETS)]
        return None, [self.pool[k] for k in picks]

    def _request(self, spark, baskets):
        return spark.createDataFrame([(b,) for b in baskets], "items array<string>")

    def run(self, spark, inp):
        return self.model.transform(self._request(spark, inp[1])).collect()

    def run_traced(self, spark, tracer, inp):
        df = self._request(spark, inp[1])
        with tracer.span("operators.transform"):
            rows = transform_with_rules(df, self.rules_df).collect()
        return rows

    def layers(self, tracer, spans, result, inp) -> dict:
        return transform_metrics(spans["operators.transform"], inp[1], self.num_rules)


WORKLOADS = {w.name: w for w in (MineEPFP, RecommendBatch, RecommendOnline)}
