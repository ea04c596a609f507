"""Self-contained Parallel FP-Growth mining kernel (the ``kernel="pandas"``
path of :class:`FPGrowth`).

Re-expresses the reference's PFP/EPFP pipeline (``epfp/FPGrowthCore.scala:
49-114``) Spark-first, written once and keyed by a corpus column so that
several independent corpora mine in one pass (:func:`mine_pandas_by`);
ungrouped mining (:func:`mine_pandas`) is the case of one constant key.

stage 1  frequent items      — explode → hash-agg → HAVING against each
                               corpus's threshold (Catalyst does
                               partial+final, i.e. the reference's
                               map-side-combined ``reduceByKey``); the
                               surviving (corpus, item) rows are bounded
                               by minSupport and collected to build the
                               rank dictionaries on the driver (the
                               reference does the same,
                               FPGrowthCore.scala:86).
stage 2  conditional DB      — per basket, items → ranks (dictionary
                               encoding, O2) and AT MOST ONE longest
                               prefix per target group (shuffle-volume
                               optimization O3, FPGrowthCore.scala:
                               123-142), via an Arrow-batched
                               ``mapInPandas``.
stage 3  combine             — ``groupBy(corpus, group, ranks).count()``:
                               identical conditional transactions merge
                               map-side BEFORE the shuffle — recovering
                               the reference's ``aggregateByKey`` tree
                               combine (O4) declaratively.
stage 4  group mining        — ``groupBy(corpus, group).applyInPandas``:
                               pattern growth by prefix projection over
                               the group's conditional DB (PrefixFPM),
                               emitting patterns whose suffix item the
                               group owns (duplicate suppression O5,
                               FPTree.scala:85-97), decode ranks → items.

Group assignment uses the EPFP balanced partitioner (O6) by default,
PFP's hash assignment otherwise — see operators/balanced.py.

Scale note: one group's conditional DB and its projections live in one
Python worker's heap; group count should scale with data
(``num_partitions``), and the MLlib kernel remains the default for the
largest inputs (SURVEY §7.4).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.balanced import (
    balanced_group_assignment,
    hash_group_assignment,
)

# One group's conditional DB must fit a Python worker's heap; a group with
# more distinct conditional transactions fails loudly with actionable
# advice instead of OOMing the executor.
_MAX_GROUP_ROWS = 5_000_000


def _mine(db, suffix, min_count, owns, out):
    """Pattern growth by prefix projection. ``db`` is a list of (ranks
    tuple ascending, count); ranks are ints, frequency-descending. Every
    frequent rank r extends ``suffix`` and is mined again over its
    projection: the prefix before r of every transaction holding r, with
    identical prefixes merged. ``owns`` filters r at the top level only
    (duplicate suppression O5, FPTree.scala:85-97); None emits every
    frequent rank."""
    support: dict[int, int] = {}
    for ranks, cnt in db:
        for r in ranks:
            support[r] = support.get(r, 0) + cnt
    projections: dict[int, dict[tuple[int, ...], int]] = {
        r: {}
        for r, s in support.items()
        if s >= min_count and (owns is None or owns(r))
    }
    for ranks, cnt in db:
        for i, r in enumerate(ranks):
            proj = projections.get(r)
            if proj is not None and i:
                prefix = ranks[:i]
                proj[prefix] = proj.get(prefix, 0) + cnt
    for r, proj in projections.items():
        pattern = suffix + (r,)
        out.append((pattern, support[r]))
        if proj:
            _mine(list(proj.items()), pattern, min_count, None, out)


def mine_pandas(
    items_df: DataFrame,
    min_count: int,
    num_partitions: int | None = None,
    balanced: bool = True,
) -> DataFrame:
    """items_df: ``items`` array column (string/int/long elements); null
    baskets are dropped. → (items: array<input element type>, freq: long),
    uncanonicalized order. One corpus under a constant key."""
    return _mine_by_corpus(
        _keyed(items_df, F.lit(0)), {0: min_count}, num_partitions, balanced
    ).drop("corpus")


def mine_pandas_by(
    items_df: DataFrame,
    corpus_col: str,
    min_support: float,
    num_partitions: int | None = None,
    balanced: bool = True,
) -> DataFrame:
    """Grouped mining: run the PFP pipeline INDEPENDENTLY per corpus (e.g.
    per language) in one pass — the "hypertable rollup" shape for mining.
    items_df: (corpus_col, items array); → (corpus_col, items, freq) where
    freq ≥ ceil(min_support · |corpus|) within each corpus. Rows with a
    null basket or a null corpus key are dropped before corpus sizes are
    counted, as ``FPGrowth.fit`` excludes null baskets from N."""
    if not 0.0 < min_support <= 1.0:
        raise ValueError(f"min_support must be in (0, 1], got {min_support}")
    src = _keyed(items_df, F.col(corpus_col))
    min_count = {
        r["corpus"]: max(1, math.ceil(min_support * r["n"]))
        for r in src.groupBy("corpus").agg(F.count("*").alias("n")).collect()
    }
    return _mine_by_corpus(
        src, min_count, num_partitions, balanced
    ).withColumnRenamed("corpus", corpus_col)


def _keyed(items_df: DataFrame, corpus: Column) -> DataFrame:
    """(corpus, items) rows without null baskets or null corpus keys."""
    return items_df.select(corpus.alias("corpus"), "items").where(
        F.col("corpus").isNotNull() & F.col("items").isNotNull()
    )


def _mine_by_corpus(
    src: DataFrame,
    min_count: dict,
    num_partitions: int | None,
    balanced: bool,
) -> DataFrame:
    """The four PFP stages over (corpus, items), each corpus with its own
    threshold ``min_count[corpus]``, rank dictionary and group assignment.
    → (corpus, items, freq). State per applyInPandas call is one
    (corpus, group)'s conditional DB."""
    spark = src.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # Item type is generic like the reference's `Item: ClassTag`
    # (epfp/FPGrowthCore.scala:49) — inherit it from the input schema.
    item_dt = src.schema["items"].dataType.elementType.simpleString()
    corpus_dt = src.schema["corpus"].dataType.simpleString()
    out_schema = f"corpus {corpus_dt}, items array<{item_dt}>, freq long"
    if not min_count:
        return spark.createDataFrame([], out_schema)

    # stage 1 — per-corpus frequent items; only frequent rows are
    # collected. The thresholds ride in a literal map: a DataFrame of them
    # would be a LogicalRDD whose broadcast costs a Python job per fit.
    thresholds = F.create_map(
        *[
            lit
            for c, m in min_count.items()
            for lit in (F.lit(c).cast(corpus_dt), F.lit(m).cast("long"))
        ]
    )
    freq_rows = (
        src.select("corpus", F.explode("items").alias("item"))
        .groupBy("corpus", "item")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= thresholds[F.col("corpus")])
        .collect()
    )
    if not freq_rows:
        return spark.createDataFrame([], out_schema)
    per_corpus: dict = {}
    for r in freq_rows:
        per_corpus.setdefault(r["corpus"], []).append((r["item"], r["freq"]))
    item_to_rank: dict = {}
    rank_to_item: dict = {}
    assign: dict = {}
    num_groups = 0
    for c, pairs in per_corpus.items():
        # rank dictionary: freq desc, item asc (a null item first, as
        # Spark orders nulls)
        pairs.sort(key=lambda p: (-p[1], p[0] is not None, p[0]))
        decode = [it for it, _ in pairs]
        rank_to_item[c] = decode
        item_to_rank[c] = {it: r for r, it in enumerate(decode)}
        g = max(1, min(num_partitions, len(decode)))
        num_groups += g
        assign[c] = (
            balanced_group_assignment(len(decode), g)
            if balanced
            else hash_group_assignment(len(decode), g)
        )

    bc = spark.sparkContext.broadcast((item_to_rank, rank_to_item, assign, min_count))

    # stage 2 — dictionary-encode per corpus; ≤1 longest prefix per group
    def gen_cond(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i2r, _, asg, _ = bc.value
        for pdf in batches:
            out_c: list = []
            out_group: list[int] = []
            out_ranks: list[list[int]] = []
            for corpus, items in zip(pdf["corpus"], pdf["items"]):
                d = i2r.get(corpus)
                if d is None:
                    continue
                group_of = asg[corpus]
                ranks = sorted({d[i] for i in items if i in d})
                emitted: set[int] = set()
                for idx in range(len(ranks) - 1, -1, -1):
                    g = group_of[ranks[idx]]
                    if g not in emitted:
                        emitted.add(g)
                        out_c.append(corpus)
                        out_group.append(g)
                        out_ranks.append(ranks[: idx + 1])
            # Explicit dtypes: an empty batch would otherwise default to
            # float64 columns, which Arrow cannot convert to int/array.
            yield pd.DataFrame(
                {
                    "corpus": pd.Series(out_c, dtype="object"),
                    "group": pd.Series(out_group, dtype="int32"),
                    "ranks": pd.Series(out_ranks, dtype="object"),
                }
            )

    cond = src.mapInPandas(
        gen_cond, f"corpus {corpus_dt}, group int, ranks array<int>"
    )

    # stage 3 — merge identical conditional transactions (partial agg
    # happens map-side, so the shuffle carries combined rows)
    cond_agg = cond.groupBy("corpus", "group", "ranks").agg(
        F.count("*").alias("cnt")
    )

    # Bound here so the pickled closure carries the value.
    max_group_rows = _MAX_GROUP_ROWS

    # stage 4 — per-(corpus, group) projection mining + rank decode
    def mine_group(pdf: pd.DataFrame) -> pd.DataFrame:
        corpus = pdf["corpus"].iloc[0]
        group = int(pdf["group"].iloc[0])
        if len(pdf) > max_group_rows:
            raise RuntimeError(
                f"mining group {group} of corpus {corpus} has {len(pdf)} "
                f"distinct conditional transactions (> {max_group_rows}); "
                "raise num_partitions (more, smaller groups), raise "
                "min_support, or use kernel='mllib' for this scale"
            )
        _, r2i, asg, mcs = bc.value
        group_of = asg[corpus]
        decode = r2i[corpus]
        db = [
            (tuple(ranks.tolist()), int(cnt))
            for ranks, cnt in zip(pdf["ranks"], pdf["cnt"])
        ]
        patterns: list[tuple[tuple[int, ...], int]] = []
        _mine(db, (), mcs[corpus], lambda r: group_of[r] == group, patterns)
        return pd.DataFrame(
            {
                "corpus": pd.Series([corpus] * len(patterns), dtype="object"),
                "items": pd.Series(
                    [[decode[r] for r in pat] for pat, _ in patterns], dtype="object"
                ),
                "freq": pd.Series([supp for _, supp in patterns], dtype="int64"),
            }
        )

    # Pin the mining stage's parallelism. Its shuffle is bytes-tiny
    # (combined conditional transactions), so AQE's bytes-advisory
    # coalescing packs the COMPUTE-bound Python mining into a
    # handful of tasks (measured r17: 3 tasks for a 40-group run).
    # An explicit hash repartition on the group key is exempt from AQE
    # coalescing and satisfies the groupBy's clustering, so no second
    # exchange is added; 4× overallocation keeps expected hash-collision
    # parallelism loss under ~12% (guide §2.5: few distinct keys need
    # several× more partitions than keys to spread).
    return (
        cond_agg.repartition(4 * num_groups, "corpus", "group")
        .groupBy("corpus", "group")
        .applyInPandas(mine_group, out_schema)
    )
