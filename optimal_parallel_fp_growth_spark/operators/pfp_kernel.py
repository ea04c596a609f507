"""Self-contained Parallel FP-Growth mining kernel (the ``kernel="pandas"``
path of :class:`FPGrowth`).

Re-expresses the reference's PFP/EPFP pipeline (``epfp/FPGrowthCore.scala:
49-114``) Spark-first, written once and keyed by a corpus column so that
several independent corpora mine in one pass (:func:`mine_pandas_by`);
ungrouped mining (:func:`mine_pandas`) is the case of one constant key.

As in the reference, the stages are plain functions that Spark only
wires together (:func:`_mine_by_corpus`): :func:`build_dictionary` over
stage 1's collected frequent items (FPGrowthCore.scala:86),
:func:`cond_transactions` per basket in ``mapInPandas`` (``gen_cond``),
and :func:`group_patterns` per (corpus, group), streamed by
``applyInPandas`` (``mine_group``) after the one shuffle. Both entry
points mine the ``itemcount.baskets`` of their input.

Scale note: one group's conditional DB and its projections live in one
Python worker's heap; group count should scale with data
(``num_partitions``), and the MLlib kernel remains the default for the
largest inputs (SURVEY §7.4).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.balanced import (
    balanced_group_assignment,
    hash_group_assignment,
)
from optimal_parallel_fp_growth_spark.operators.itemcount import baskets

# One group's conditional DB must fit a Python worker's heap; a group with
# more distinct conditional transactions fails loudly with actionable
# advice instead of OOMing the executor.
_MAX_GROUP_ROWS = 5_000_000

# Stage 2 flushes a map task's combined rows at this many distinct keys,
# so its heap stays bounded; the mining group merges what a flush split.
_COMBINE_KEYS = 1 << 18
_FRAME_ROWS = 10_000  # rows per frame handed to Arrow


class Dictionary(NamedTuple):
    """One corpus's stage-1 result. Stage 2 keys items by their Spark string
    form (None for null): pandas hands an integer array that holds a null
    over as floats, which lose the null and longs above 2^53."""

    item_to_rank: dict  # string form → rank
    decode: list  # rank → item, of the input's element type
    group_of: list  # rank → group
    min_count: int


def build_dictionary(
    rows: Iterable[tuple], min_count: int, num_groups: int, balanced: bool
) -> Dictionary:
    """Stage 1: ``rows`` are one corpus's frequent ``(item, string form,
    freq)``. Ranks go by freq desc, then item asc, a null item first as
    Spark orders nulls. At most ``num_groups`` groups, and no more than
    the items; EPFP's balanced assignment (O6) or PFP's hash assignment,
    see operators/balanced.py."""
    rows = sorted(rows, key=lambda r: (-r[2], r[0] is not None, r[0]))
    assign = balanced_group_assignment if balanced else hash_group_assignment
    return Dictionary(
        {key: rank for rank, (_, key, _) in enumerate(rows)},
        [item for item, _, _ in rows],
        assign(len(rows), max(1, min(num_groups, len(rows)))),
        min_count,
    )


def cond_transactions(items: Iterable, dictionary: Dictionary) -> Iterator[tuple]:
    """Stage 2, one basket of string forms → its conditional transactions
    ``(group, ranks)``: the frequent items as ascending ranks (dictionary
    encoding, O2), cut after each group's last rank, so at most one
    longest prefix per group (O3, FPGrowthCore.scala:123-142)."""
    d, group_of = dictionary.item_to_rank, dictionary.group_of
    ranks = sorted({d[i] for i in items if i in d})
    emitted: set[int] = set()
    for idx in range(len(ranks) - 1, -1, -1):
        g = group_of[ranks[idx]]
        if g not in emitted:
            emitted.add(g)
            yield g, tuple(ranks[: idx + 1])


def group_patterns(
    rows: Iterable[tuple], dictionary: Dictionary, corpus, group: int, max_rows: int
) -> list[tuple[list, int]]:
    """Stage 3, one group's ``(ranks, cnt)`` rows → ``[(items, freq)]``:
    merges equal ranks (rows from different map tasks, or one task's
    flushes), fails with advice at the first row past ``max_rows``
    distinct ones, and mines the patterns whose last rank the group owns
    (duplicate suppression O5, FPTree.scala:85-97), decoded to items."""
    merged: dict[tuple[int, ...], int] = {}
    for ranks, cnt in rows:
        merged[ranks] = merged.get(ranks, 0) + cnt
        if len(merged) > max_rows:
            raise RuntimeError(
                f"mining group {group} of corpus {corpus} has {len(merged)} "
                f"distinct conditional transactions (> {max_rows}); "
                "raise num_partitions (more, smaller groups), raise "
                "min_support, or use kernel='mllib' for this scale"
            )
    group_of, decode = dictionary.group_of, dictionary.decode
    patterns: list[tuple[tuple[int, ...], int]] = []
    _mine(list(merged.items()), (), dictionary.min_count,
          lambda r: group_of[r] == group, patterns)
    return [([decode[r] for r in pat], supp) for pat, supp in patterns]


def _mine(db, suffix, min_count, owns, out):
    """Pattern growth by prefix projection. ``db`` is a list of (ranks
    tuple ascending, count); ranks are ints, frequency-descending. Every
    frequent rank r extends ``suffix`` and is mined again over its
    projection: the prefix before r of every transaction holding r, with
    identical prefixes merged. ``owns`` filters r at the top level only;
    None emits every frequent rank."""
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
    """items_df: ``items`` array column (string/int/long elements).
    → (items: array<input element type>, freq: long), uncanonicalized
    order. One corpus under a constant key."""
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
    freq ≥ ceil(min_support · |corpus|) within each corpus; a row with a
    null corpus key is no basket."""
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import min_count_for

    if not 0.0 < min_support <= 1.0:
        raise ValueError(f"min_support must be in (0, 1], got {min_support}")
    src = _keyed(items_df, F.col(corpus_col))
    min_count = {
        r["corpus"]: min_count_for(min_support, r["n"])
        for r in src.groupBy("corpus").agg(F.count("*").alias("n")).collect()
    }
    out = _mine_by_corpus(src, min_count, num_partitions, balanced)
    return out.withColumnRenamed("corpus", corpus_col)


def _keyed(items_df: DataFrame, corpus: Column) -> DataFrame:
    """(corpus, items): the baskets of ``items_df`` keyed by ``corpus``."""
    return baskets(items_df, corpus.alias("corpus"))


def _mine_by_corpus(
    src: DataFrame, min_count: dict, num_partitions: int | None, balanced: bool
) -> DataFrame:
    """The three PFP stages over (corpus, items), each corpus with its own
    threshold ``min_count[corpus]`` and :class:`Dictionary`.
    → (corpus, items, freq)."""
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
    thresholds = F.create_map(*[
        lit for c, m in min_count.items()
        for lit in (F.lit(c).cast(corpus_dt), F.lit(m).cast("long"))
    ])
    freq_rows = (
        src.select("corpus", F.explode("items").alias("item"))
        .groupBy("corpus", "item")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= thresholds[F.col("corpus")])
        .select("corpus", "item", F.col("item").cast("string").alias("key"), "freq")
        .collect()
    )
    if not freq_rows:
        return spark.createDataFrame([], out_schema)
    per_corpus: dict = {}
    for corpus, item, key, freq in freq_rows:
        per_corpus.setdefault(corpus, []).append((item, key, freq))
    dictionaries = {c: build_dictionary(rows, min_count[c], num_partitions, balanced)
                    for c, rows in per_corpus.items()}
    num_groups = sum(len(set(d.group_of)) for d in dictionaries.values())

    # The adapters only move pandas rows in and out of the stages. They
    # capture the dictionaries (PySpark ships a pickled command over 1 MB
    # to each executor once; each task deserializes it) and these bounds.
    combine_keys, max_group_rows = _COMBINE_KEYS, _MAX_GROUP_ROWS

    # stage 2 — a map task combines identical (corpus, group, ranks) rows
    # over all its Arrow batches, like ``aggregateByKey`` (O4).
    def gen_cond(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[tuple, int] = {}
        for pdf in batches:
            for corpus, items in zip(pdf["corpus"], pdf["items"]):
                d = dictionaries.get(corpus)
                if d is None:
                    continue
                for g, ranks in cond_transactions(items, d):
                    key = (corpus, g, ranks)
                    counts[key] = counts.get(key, 0) + 1
            if len(counts) >= combine_keys:
                yield from _cond_frames(counts)
                counts = {}
        yield from _cond_frames(counts)

    keys = F.col("items").cast("array<string>").alias("items")
    cond = src.select("corpus", keys).mapInPandas(
        gen_cond, f"corpus {corpus_dt}, group int, ranks array<int>, cnt long"
    )

    # stage 3 — one (corpus, group) per call, streamed in Arrow batches so
    # that the group bound holds before the group is in memory
    def mine_group(key: tuple, batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corpus, group = key[0], int(key[1])
        rows = ((tuple(r.tolist()), cnt)
                for pdf in batches for r, cnt in zip(pdf["ranks"], pdf["cnt"]))
        patterns = group_patterns(rows, dictionaries[corpus], corpus, group, max_group_rows)
        yield pd.DataFrame({
            "corpus": pd.Series([corpus] * len(patterns), dtype="object"),
            "items": pd.Series([items for items, _ in patterns], dtype="object"),
            "freq": pd.Series([supp for _, supp in patterns], dtype="int64"),
        })

    # Pin the mining stage's parallelism: AQE would coalesce its bytes-tiny
    # shuffle into a few COMPUTE-bound tasks (r17: 3 tasks for 40 groups).
    # A hash repartition on the group key is exempt from coalescing and
    # satisfies the groupBy; 4× overallocation keeps the expected
    # hash-collision parallelism loss under ~12% (guide §2.5).
    return (
        cond.repartition(4 * num_groups, "corpus", "group")
        .groupBy("corpus", "group")
        .applyInPandas(mine_group, out_schema)
    )
