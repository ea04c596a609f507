"""Command-line entry points — parity with the reference's four mains
(``epfp/EPFP.scala:11-39``, ``pfp/PFP.scala:11-42``, ``fp/FP.scala:13-41``,
``apriori/Apriori.scala:20-48``): read a text file of space-separated
baskets, mine, print timing + rules to stdout.

    python -m optimal_parallel_fp_growth_spark.cli mine train.txt \
        --min-support 0.3 --min-confidence 0.8 [--kernel mllib|pandas] \
        [--num-partitions N] [--no-balanced]
    python -m optimal_parallel_fp_growth_spark.cli transform train.txt test.txt \
        --min-support 0.3 --min-confidence 0.8
    python -m optimal_parallel_fp_growth_spark.cli recommend train.txt \
        --min-support 0.3 --min-confidence 0.8
    python -m optimal_parallel_fp_growth_spark.cli dedup in.parquet out.parquet \
        --threshold 0.5 --policy cc
    python -m optimal_parallel_fp_growth_spark.cli curate in.parquet out.parquet \
        --quality-min 0.5 --threshold 0.5 --budget 256
    python -m optimal_parallel_fp_growth_spark.cli cluster emb.parquet out.parquet \
        --k 8 --n-iter 2 [--semdedup-threshold 0.4]
    python -m optimal_parallel_fp_growth_spark.cli compact table_dir \
        --target-mb 128 [--sorted-by col1,col2]
    python -m optimal_parallel_fp_growth_spark.cli quality in.parquet out.parquet \
        --min-words 25 [--keep-only]

``recommend`` is the reference's ``transform(spark)`` demo overload
(pfp/FPGrowth.scala:124-148): predict over the distinct antecedents of
the mined rules. ``dedup`` runs the end-to-end corpus dedup (exact +
minhash-LSH near-dup, greedy or cluster-canonical policy) from parquet
to parquet.

``--kernel pandas --num-partitions 1`` reproduces the FP (single-group)
baseline; ``--no-balanced`` gives PFP hash grouping; default balanced
grouping is EPFP. Rule lines use the reference's printRule format
(``epfp/EPFP.scala:41-51``): ``{antecedent} => {consequent}: confidence``.
"""

from __future__ import annotations

import argparse
import sys
import time


def _print_rules(rules_df) -> None:
    for r in rules_df.collect():
        ante = ",".join(r.antecedent)
        cons = ",".join(r.consequent)
        print(f"{{{ante}}} => {{{cons}}}: {r.confidence}")


def main(argv: list[str] | None = None) -> int:
    from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
    from optimal_parallel_fp_growth_spark.session import get_session
    from optimal_parallel_fp_growth_spark.sources.text import read_baskets_text

    p = argparse.ArgumentParser(prog="optimal_parallel_fp_growth_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("mine", "transform", "recommend"):
        s = sub.add_parser(name)
        s.add_argument("train")
        if name == "transform":
            s.add_argument("test")
        s.add_argument("--min-support", type=float, default=0.3)
        s.add_argument("--min-confidence", type=float, default=0.8)
        s.add_argument("--num-partitions", type=int, default=None)
        s.add_argument("--kernel", choices=("mllib", "pandas"), default="mllib")
        s.add_argument("--no-balanced", action="store_true")
    d = sub.add_parser("dedup")
    d.add_argument("input")
    d.add_argument("output")
    d.add_argument("--text-col", default="text")
    d.add_argument("--threshold", type=float, default=0.5)
    d.add_argument("--policy", choices=("greedy", "cc"), default="greedy")
    c = sub.add_parser("curate")
    c.add_argument("input")
    c.add_argument("output")
    c.add_argument("--text-col", default="text")
    c.add_argument("--quality-min", type=float, default=0.5)
    c.add_argument("--threshold", type=float, default=0.5)
    c.add_argument("--budget", type=int, default=256)
    cp = sub.add_parser("compact")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--sorted-by", default=None,
                    help="comma-separated sort columns for a clustered rewrite")
    q = sub.add_parser("quality")
    q.add_argument("input")
    q.add_argument("output")
    q.add_argument("--text-col", default="text")
    q.add_argument("--min-words", type=int, default=25)
    q.add_argument("--keep-only", action="store_true",
                   help="write only keep=true rows (default: annotate all)")
    k = sub.add_parser("cluster")
    k.add_argument("input")
    k.add_argument("output")
    k.add_argument("--k", type=int, default=8)
    k.add_argument("--n-iter", type=int, default=2)
    k.add_argument("--vec-col", default="embedding")
    k.add_argument("--id-col", default="vec_id")
    k.add_argument("--semdedup-threshold", type=float, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_session("opfpg-cli")
    try:
        if args.cmd == "dedup":
            from optimal_parallel_fp_growth_spark.operators.dedup import (
                deduped_corpus,
            )

            docs = spark.read.parquet(args.input)
            t0 = time.perf_counter()
            out = deduped_corpus(
                docs,
                text_col=args.text_col,
                threshold=args.threshold,
                policy=args.policy,
            )
            kept = docs.join(out.select("doc_id"), "doc_id", "left_semi")
            kept.write.mode("overwrite").parquet(args.output)
            n_in, n_out = docs.count(), kept.count()
            print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")
            print(f"kept {n_out} / {n_in} documents")
            return 0

        if args.cmd == "curate":
            from optimal_parallel_fp_growth_spark.plans.curate import (
                curate_corpus,
            )

            docs = spark.read.parquet(args.input)
            t0 = time.perf_counter()
            packed = curate_corpus(
                docs,
                quality_min=args.quality_min,
                dedup_threshold=args.threshold,
                budget=args.budget,
                text_col=args.text_col,
            )
            out = docs.join(packed.select("doc_id", "pack_id"), "doc_id")
            out.write.mode("overwrite").parquet(args.output)
            n_in, n_out = docs.count(), out.count()
            print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")
            print(f"packed {n_out} / {n_in} documents")
            return 0

        if args.cmd == "compact":
            from optimal_parallel_fp_growth_spark.sources.compact import (
                compact_files,
            )

            t0 = time.perf_counter()
            stats = compact_files(
                spark,
                args.path,
                target_mb=args.target_mb,
                sorted_by=tuple(args.sorted_by.split(","))
                if args.sorted_by
                else (),
            )
            print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")
            print(
                f"compacted {stats['files_before']} -> {stats['files_after']} "
                f"files ({stats['bytes']} bytes)"
            )
            return 0

        if args.cmd == "quality":
            from optimal_parallel_fp_growth_spark.operators.textops import (
                gopher_rules,
            )

            docs = spark.read.parquet(args.input)
            t0 = time.perf_counter()
            verdicts = gopher_rules(
                docs, text_col=args.text_col, min_words=args.min_words
            )
            if args.keep_only:
                out = docs.join(
                    verdicts.where("keep").select("doc_id"), "doc_id", "left_semi"
                )
            else:
                out = docs.join(verdicts.drop("n_words"), "doc_id")
            out.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_keep = verdicts.where("keep").count()
            print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")
            print(f"keep {n_keep} / {n_in} documents")
            return 0

        if args.cmd == "cluster":
            from optimal_parallel_fp_growth_spark.functions.caching import (
                release_cached_inputs,
            )
            from optimal_parallel_fp_growth_spark.operators.clustering import (
                kmeans_assign,
                semdedup,
            )

            emb = spark.read.parquet(args.input)
            t0 = time.perf_counter()
            if args.semdedup_threshold is not None:
                out = semdedup(
                    emb, args.semdedup_threshold, k=args.k,
                    n_iter=args.n_iter, id_col=args.id_col,
                    vec_col=args.vec_col,
                )
            else:
                out = kmeans_assign(
                    emb, k=args.k, n_iter=args.n_iter,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
            out.write.mode("overwrite").parquet(args.output)
            release_cached_inputs(out)
            n = spark.read.parquet(args.output).count()
            print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")
            print(f"clustered {n} vectors into {args.k} cells")
            return 0

        train = read_baskets_text(spark, args.train)
        est = FPGrowth(
            min_support=args.min_support,
            min_confidence=args.min_confidence,
            num_partitions=args.num_partitions,
            kernel=args.kernel,
            balanced=not args.no_balanced,
        )
        t0 = time.perf_counter()
        model = est.fit(train)
        # reference's timing harness prints fit wall-time (EPFP.scala:31-35)
        print(f"Elapsed time: {int((time.perf_counter() - t0) * 1000)} ms")

        if args.cmd == "mine":
            _print_rules(model.association_rules(args.min_confidence))
        elif args.cmd == "recommend":
            # pfp/FPGrowth.scala:124-148 demo: predict over the distinct
            # rule antecedents themselves.
            out = model.transform_self(
                min_confidence=args.min_confidence, keep_array=False
            )
            for r in out.collect():
                print(f"{' '.join(r.items)} -> {r.prediction}")
        else:
            test = read_baskets_text(spark, args.test)
            out = model.transform(
                test, min_confidence=args.min_confidence, keep_array=False
            )
            for r in out.collect():
                print(f"{' '.join(r.items)} -> {r.prediction}")
        model.unpersist()
        return 0
    finally:
        # getOrCreate may have handed us a caller-owned session (tests,
        # notebooks) — only stop what we created.
        if not pre_existing:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
