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
                               prefix per target group (O3,
                               FPGrowthCore.scala:123-142), via
                               ``mapInPandas``; each map task counts
                               identical (corpus, group, prefix) rows
                               over all its Arrow batches — the
                               per-partition combine of the reference's
                               ``aggregateByKey`` (O4).
stage 3  group mining        — one shuffle on (corpus, group), then
                               ``applyInPandas``: merge the equal
                               prefixes of different map tasks, then
                               pattern growth by prefix projection
                               (PrefixFPM), emitting patterns whose
                               suffix item the group owns (duplicate
                               suppression O5, FPTree.scala:85-97),
                               decode ranks → items.

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

# Stage 2 flushes a map task's combined rows at this many distinct keys,
# so its heap stays bounded; the mining group merges what a flush split.
_COMBINE_KEYS = 1 << 18
_FRAME_ROWS = 10_000  # rows per frame handed to Arrow


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


def _cond_frames(counts: dict) -> Iterator[pd.DataFrame]:
    """Stage 2's combined ``{(corpus, group, ranks): cnt}`` as frames of at
    most ``_FRAME_ROWS`` rows."""
    rows = [(c, g, list(r), n) for (c, g, r), n in counts.items()]
    for lo in range(0, len(rows), _FRAME_ROWS):
        yield pd.DataFrame(
            rows[lo : lo + _FRAME_ROWS], columns=["corpus", "group", "ranks", "cnt"]
        )


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
    """The three PFP stages over (corpus, items), each corpus with its own
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
    # would be a LogicalRDD, and joining it costs a Python job per fit.
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

    # stage 2 — dictionary-encode per corpus; ≤1 longest prefix per group,
    # merged with its duplicates across the map task's Arrow batches. The
    # closures capture the dictionaries: PySpark ships a pickled command
    # over 1 MB to each executor once, and each task deserializes it.
    def gen_cond(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[tuple, int] = {}
        for pdf in batches:
            for corpus, items in zip(pdf["corpus"], pdf["items"]):
                d = item_to_rank.get(corpus)
                if d is None:
                    continue
                group_of = assign[corpus]
                ranks = sorted({d[i] for i in items if i in d})
                emitted: set[int] = set()
                for idx in range(len(ranks) - 1, -1, -1):
                    g = group_of[ranks[idx]]
                    if g not in emitted:
                        emitted.add(g)
                        key = (corpus, g, tuple(ranks[: idx + 1]))
                        counts[key] = counts.get(key, 0) + 1
            if len(counts) >= combine_keys:
                yield from _cond_frames(counts)
                counts = {}
        yield from _cond_frames(counts)

    # Bound here so the pickled closures carry the values.
    combine_keys, max_group_rows = _COMBINE_KEYS, _MAX_GROUP_ROWS
    cond = src.mapInPandas(
        gen_cond, f"corpus {corpus_dt}, group int, ranks array<int>, cnt long"
    )

    # stage 3 — per-(corpus, group) merge, projection mining, rank decode
    def mine_group(pdf: pd.DataFrame) -> pd.DataFrame:
        corpus = pdf["corpus"].iloc[0]
        group = int(pdf["group"].iloc[0])
        merged: dict[tuple[int, ...], int] = {}
        for ranks, cnt in zip(pdf["ranks"], pdf["cnt"]):
            key = tuple(ranks.tolist())
            merged[key] = merged.get(key, 0) + cnt
        if len(merged) > max_group_rows:
            raise RuntimeError(
                f"mining group {group} of corpus {corpus} has {len(merged)} "
                f"distinct conditional transactions (> {max_group_rows}); "
                "raise num_partitions (more, smaller groups), raise "
                "min_support, or use kernel='mllib' for this scale"
            )
        group_of = assign[corpus]
        decode = rank_to_item[corpus]
        patterns: list[tuple[tuple[int, ...], int]] = []
        _mine(list(merged.items()), (), min_count[corpus],
              lambda r: group_of[r] == group, patterns)
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
    # coalescing would pack the COMPUTE-bound Python mining into a handful
    # of tasks (measured r17: 3 tasks for a 40-group run). An explicit hash
    # repartition on the group key is exempt from AQE coalescing and
    # satisfies the groupBy's clustering; 4× overallocation keeps expected
    # hash-collision parallelism loss under ~12% (guide §2.5).
    return (
        cond.repartition(4 * num_groups, "corpus", "group")
        .groupBy("corpus", "group")
        .applyInPandas(mine_group, out_schema)
    )
