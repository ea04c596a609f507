"""Source/sink coverage: text basket loader (the reference's only
source, epfp/EPFP.scala:26-27), file sinks + partition pruning, and
generic item types in the mining kernel (SURVEY §1.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.sources.catalog import load_table
from optimal_parallel_fp_growth_spark.sources.sinks import (
    read_back,
    write_csv,
    write_json,
    write_parquet,
)
from optimal_parallel_fp_growth_spark.sources.text import read_baskets_text


@pytest.mark.fpm
def test_text_basket_source(spark, tmp_path):
    p = tmp_path / "baskets.txt"
    p.write_text("I1 I2 I5 I2\nI2 I4\n\nI1 I3 \n   \n")
    got = read_baskets_text(spark, str(p)).collect()
    baskets = sorted(tuple(r.items) for r in got)
    # dedup within line, order of first appearance; as Java's split(" "):
    # empty line -> [''], trailing spaces dropped, a line of spaces -> []
    assert baskets == [(), ("",), ("I1", "I2", "I5"), ("I1", "I3"), ("I2", "I4")]


def test_parquet_roundtrip_and_partition_pruning(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    write_parquet(ev, out, partition_by=("day",))
    back = read_back(spark, out)
    assert back.count() == ev.count()

    one_day = ev.select("day").first().day
    pruned = back.where(F.col("day") == F.lit(one_day))
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in scan  # pruning reached the scan
    assert pruned.count() == ev.where(F.col("day") == F.lit(one_day)).count()


def test_csv_json_roundtrip(spark, sf_small, tmp_path):
    nation = load_table(spark, sf_small, "nation")
    write_csv(nation, str(tmp_path / "n_csv"))
    write_json(nation, str(tmp_path / "n_json"))
    assert read_back(spark, str(tmp_path / "n_csv"), "csv").count() == nation.count()
    got = read_back(spark, str(tmp_path / "n_json"), "json")
    assert sorted(got.columns) == sorted(nation.columns)


def test_orc_roundtrip(spark, sf_small, tmp_path):
    nation = load_table(spark, sf_small, "nation")
    out = str(tmp_path / "n_orc")
    nation.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


@pytest.mark.fpm
def test_mining_accepts_int_items(spark):
    """SURVEY §1.2: the reference core is generic over the item type;
    both kernels must accept array<int>/array<long> too."""
    rows = [([1, 2, 5],), ([2, 4],), ([2, 3],), ([1, 3],), ([4, 2, 5, 1],)]
    tx = spark.createDataFrame(rows, "items array<int>")
    results = {}
    for kernel in ("mllib", "pandas"):
        model = FPGrowth(min_support=0.4, min_confidence=0.5, kernel=kernel).fit(tx)
        fis = {(tuple(r["items"]), r["freq"]) for r in model.freq_itemsets.collect()}
        assert ((2,), 4) in fis and ((1, 2), 2) in fis
        assert dict(model.freq_itemsets.dtypes)["items"] == "array<int>"
        results[kernel] = fis
        if kernel == "mllib":
            rules = model.association_rules(0.5)
            assert rules.where(F.col("lift").isNotNull()).count() > 0
    assert results["mllib"] == results["pandas"]


def test_write_sharded_layout_balance_and_determinism(spark, sf_small, tmp_path):
    import glob

    from optimal_parallel_fp_growth_spark.sources.catalog import load_table
    from optimal_parallel_fp_growth_spark.sources.sinks import write_sharded

    docs = load_table(spark, sf_small, "documents")
    n = docs.count()
    out = str(tmp_path / "shards")
    write_sharded(docs, out, num_shards=8, id_col="doc_id")

    # exactly one data file per shard directory, all 8 present
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(dirs) == 8
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1

    back = spark.read.parquet(out)
    assert back.count() == n

    # near-equal rows per shard (md5 bucket is uniform)
    counts = {r["shard"]: r["c"] for r in back.groupBy("shard").agg(
        F.count("*").alias("c")).collect()}
    mean = n / 8
    assert all(0.5 * mean < c < 1.5 * mean for c in counts.values())

    # deterministic membership: rewriting yields the identical assignment
    out2 = str(tmp_path / "shards2")
    write_sharded(docs, out2, num_shards=8, id_col="doc_id")
    a = {(r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()}
    b = {(r["doc_id"], r["shard"])
         for r in spark.read.parquet(out2).select("doc_id", "shard").collect()}
    assert a == b


def test_write_sorted_disjoint_file_stats(spark, sf_small, tmp_path):
    """write_sorted lays files out with DISJOINT min/max ranges on the
    sort column (the property row-group/file skipping prunes on); a
    plain write leaves ranges overlapping."""
    import glob

    import pyarrow.parquet as pq

    from optimal_parallel_fp_growth_spark.sources.sinks import (
        read_back,
        write_sorted,
    )

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "sorted")
    write_sorted(docs, out, ("doc_id",), num_files=4)

    def ranges(path):
        rs = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.read_metadata(f)
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
                "doc_id"
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                rs.append((min(mins), max(maxs)))
        return sorted(rs)

    rs = ranges(out)
    assert len(rs) == 4
    for (lo1, hi1), (lo2, hi2) in zip(rs, rs[1:]):
        assert hi1 < lo2  # strictly disjoint, ascending file ranges

    # roundtrip is lossless
    back = read_back(spark, out)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }

    # control: an unsorted multi-file write has overlapping ranges
    out2 = str(tmp_path / "unsorted")
    docs.repartition(4).write.parquet(out2)
    rs2 = ranges(out2)
    overlaps = sum(1 for (a, b), (c, d) in zip(rs2, rs2[1:]) if b >= c)
    assert overlaps > 0


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    """Z-order files each cover a small rectangle of (x, y) space; a
    plain x-sort leaves y unclustered (full-range per file)."""
    import glob

    import pyarrow.parquet as pq

    from optimal_parallel_fp_growth_spark.sources.sinks import (
        write_sorted,
        write_zordered,
    )

    grid = spark.range(10000).selectExpr(
        "CAST(id % 100 AS LONG) AS x", "CAST(id DIV 100 AS LONG) AS y"
    )

    def coverage(path, col):
        fracs = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            mins = [md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)]
            fracs.append((max(maxs) - min(mins)) / 99.0)
        return sum(fracs) / len(fracs)

    zp = str(tmp_path / "zord")
    write_zordered(grid, zp, ("x", "y"), bits=7, num_files=16)
    sp = str(tmp_path / "xsort")
    write_sorted(grid, sp, ("x",), num_files=16)

    # both dimensions cluster under z-order…
    assert coverage(zp, "x") < 0.6
    assert coverage(zp, "y") < 0.6
    # …while the x-sort clusters x tightly but leaves y full-range
    assert coverage(sp, "x") < 0.2
    assert coverage(sp, "y") > 0.9

    # lossless
    back = spark.read.parquet(zp)
    assert back.count() == 10000
    assert back.selectExpr("sum(x) AS s").collect()[0].s == grid.selectExpr(
        "sum(x) AS s"
    ).collect()[0].s


def test_zorder_key_validation(spark):
    import pytest as _pytest

    from optimal_parallel_fp_growth_spark.sources.sinks import zorder_key

    df = spark.range(10).selectExpr("id AS x", "id AS y")
    with _pytest.raises(ValueError):
        zorder_key(df, ("x",))
    with _pytest.raises(ValueError):
        zorder_key(df, ("x", "y"), bits=40)


def test_clustered_writers_derive_file_count(spark, sf_small):
    from optimal_parallel_fp_growth_spark.sources.sinks import _auto_num_files
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    li = load_table(spark, sf_small, "lineitem")
    n = _auto_num_files(li)
    # floored at 8; grows one file per input partition past that —
    # the shape that keeps per-partition sort bytes CONSTANT at 100x
    assert n == max(8, li.rdd.getNumPartitions())


def test_hive_layout_entry_matches_direct(spark, sf_small):
    """GROUND_TRUTH_PIN for hive_layout_read: the write-partitioned →
    read-back → prune → rollup lifecycle equals the same rollup
    computed DIRECTLY on the unsorted table (no layout round trip) —
    losslessness and partition-value type exactness in one check."""
    from pyspark.sql import functions as F

    from optimal_parallel_fp_growth_spark.queries_events import (
        q_hive_layout_read,
    )
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    direct = (
        load_table(spark, sf_small, "events")
        .withColumn("day", F.to_date("ts"))
        .where(
            (F.col("day") >= F.lit("2024-01-05").cast("date"))
            & (F.col("day") <= F.lit("2024-01-09").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("event_type")
    )
    got = [tuple(r) for r in q_hive_layout_read(spark, sf_small).collect()]
    want = [tuple(r) for r in direct.collect()]
    assert got == want and len(want) > 0


def test_compacted_layout_entry_matches_direct(spark, sf_small):
    """GROUND_TRUTH_PIN for compacted_layout_read: the 24-small-files →
    compact → read-back → rollup lifecycle equals the rollup computed
    directly on the table — the narrow-coalesce rewrite plus the
    two-rename swap must be lossless."""
    from pyspark.sql import functions as F

    from optimal_parallel_fp_growth_spark.queries_relational import (
        q_compacted_layout_read,
    )
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    direct = (
        load_table(spark, sf_small, "lineitem")
        .where(F.col("l_quantity") < 10)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )
    got = [
        tuple(r) for r in q_compacted_layout_read(spark, sf_small).collect()
    ]
    want = [tuple(r) for r in direct.collect()]
    assert got == want and len(want) > 0
