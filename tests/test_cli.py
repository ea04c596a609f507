"""CLI entry points (parity with the reference's mains) — run in-process
against the textbook fixture."""

from __future__ import annotations

import pytest

TRAIN = "I1 I2 I5\nI2 I4\nI2 I3\nI1 I3\nI4 I2 I5 I1\n"
TEST = "I1\nI2\nI5 I2 I3\n"


@pytest.fixture()
def txt(tmp_path):
    train = tmp_path / "train.txt"
    train.write_text(TRAIN)
    test = tmp_path / "test.txt"
    test.write_text(TEST)
    return str(train), str(test)


@pytest.mark.fpm
def test_cli_mine(spark, txt, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    train, _ = txt
    rc = main(["mine", train, "--min-support", "0.4", "--min-confidence", "0.5"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Elapsed time:" in out
    assert "{I5} => {I1}: 1.0" in out  # textbook certainty rule


@pytest.mark.fpm
def test_cli_transform_pandas_kernel(spark, txt, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    train, test = txt
    rc = main(
        ["transform", train, test, "--min-support", "0.4",
         "--min-confidence", "0.5", "--kernel", "pandas"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "->" in out and out.count("\n") >= 3


@pytest.mark.fpm
def test_cli_recommend(spark, txt, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    train, _ = txt
    rc = main(["recommend", train, "--min-support", "0.4",
               "--min-confidence", "0.5"])
    assert rc == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if " -> " in l]
    assert lines  # one prediction per distinct rule antecedent
    # every left side is a rule antecedent basket; right side never
    # repeats an item from the left
    for line in lines:
        items, _, pred = line.partition(" -> ")
        assert not set(items.split()) & set(p for p in pred.split(", ") if p)


def test_cli_dedup_roundtrip(spark, tmp_path, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    src = str(tmp_path / "docs_in.parquet")
    dst = str(tmp_path / "docs_out.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different text here"), (4, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    rc = main(["dedup", src, dst, "--threshold", "0.5", "--policy", "cc"])
    assert rc == 0
    out = capsys.readouterr().out
    kept = {r.doc_id for r in spark.read.parquet(dst).collect()}
    assert 1 in kept and 3 in kept    # exact-dup survivor + unique doc
    assert 2 not in kept              # exact duplicate dropped
    assert "kept" in out


def test_cli_curate_roundtrip(spark, tmp_path, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    src = str(tmp_path / "cur_in.parquet")
    dst = str(tmp_path / "cur_out.parquet")
    # long diverse texts pass the default quality gate; doc 2 is an
    # exact duplicate of doc 1 and must not be packed
    words = "alpha beta gamma delta epsilon zeta eta theta the of and to in is".split()
    long_text = " ".join(words * 4)
    spark.createDataFrame(
        [(1, long_text, "s0"), (2, long_text, "s0"),
         (3, " ".join(reversed(words * 4)), "s1")],
        "doc_id long, text string, source string",
    ).write.mode("overwrite").parquet(src)
    rc = main(["curate", src, dst, "--budget", "16"])
    assert rc == 0
    out = capsys.readouterr().out
    rows = spark.read.parquet(dst).collect()
    ids = {r.doc_id for r in rows}
    assert 2 not in ids               # exact duplicate never packed
    assert all(hasattr(r, "pack_id") for r in rows)
    assert "packed" in out


def test_cli_cluster_roundtrip(spark, sf_small, tmp_path, capsys):
    from optimal_parallel_fp_growth_spark.cli import main
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    src = str(tmp_path / "emb_in.parquet")
    dst = str(tmp_path / "emb_out.parquet")
    load_table(spark, sf_small, "embeddings").write.parquet(src)
    rc = main(["cluster", src, dst, "--k", "4", "--n-iter", "1"])
    assert rc == 0
    out = spark.read.parquet(dst)
    assert out.columns == ["vec_id", "cluster", "dist2"]
    assert out.count() == 500
    assert out.select("cluster").distinct().count() <= 4
    assert "clustered 500 vectors" in capsys.readouterr().out


def test_cli_cluster_semdedup(spark, sf_small, tmp_path, capsys):
    from optimal_parallel_fp_growth_spark.cli import main
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    src = str(tmp_path / "emb_in2.parquet")
    dst = str(tmp_path / "emb_out2.parquet")
    load_table(spark, sf_small, "embeddings").write.parquet(src)
    rc = main(["cluster", src, dst, "--k", "4", "--n-iter", "1",
               "--semdedup-threshold", "0.4"])
    assert rc == 0
    out = spark.read.parquet(dst)
    assert out.columns == ["vec_id", "cluster", "kept"]
    assert out.where("NOT kept").count() > 0


def test_cli_compact(spark, tmp_path, capsys):
    import glob

    from optimal_parallel_fp_growth_spark.cli import main

    src = str(tmp_path / "frag_table")
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(
        20
    ).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 20
    rc = main(["compact", src, "--target-mb", "128"])
    assert rc == 0
    assert len(glob.glob(f"{src}/*.parquet")) <= 2
    assert spark.read.parquet(src).count() == 1000
    assert "compacted 20 ->" in capsys.readouterr().out


def test_cli_quality(spark, tmp_path, capsys):
    from optimal_parallel_fp_growth_spark.cli import main

    src = str(tmp_path / "q_in.parquet")
    dst = str(tmp_path / "q_out.parquet")
    good = ("the quick brown fox jumps over the lazy dog and it is glad " * 3).strip()
    spark.createDataFrame(
        [(1, good), (2, "too short")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(src)
    rc = main(["quality", src, dst, "--keep-only"])
    assert rc == 0
    kept = {r.doc_id for r in spark.read.parquet(dst).collect()}
    assert kept == {1}
    assert "keep 1 / 2" in capsys.readouterr().out
