"""Parquet catalog over the driver test tables.

The reference's only source is a text-file scan
(``epfp/EPFP.scala:26-27``); our engine additionally reads the columnar
test tables. Parquet scans go through Spark's DataSource V2 path, so
filter pushdown / column pruning / partition pruning are free — keep all
per-table projection in the query, never pre-collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from optimal_parallel_fp_growth_spark.functions.time import wall_utc_timestamp

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp columns across testdata generations. Older driver parquet
# stored INT64 TIMESTAMP(NANOS) (read as long via the legacy conf and
# rebuilt with timestamp_micros); current parquet stores naive µs
# timestamps, which Spark reads as TIMESTAMP_NTZ.
#
# Only events.ts is normalized to TIMESTAMP_LTZ with its wall clock
# interpreted as UTC — the exact instant DuckDB's epoch() assigns to
# the same naive value — so the MANY downstream `cast(ts as long)`
# sites (sessions, funnels, as-of, resample, streaming twins) stay
# session-timezone-independent without each knowing about NTZ. The
# date-like columns (o_orderdate, l_shipdate) deliberately stay in
# their native type: the TPC-H-shape queries filter on them, and a
# rewritten column defeats parquet PushedFilters at the scan
# (plan-quality tests pin the pushdown). Their few epoch conversions
# go through functions/time.py::epoch_seconds instead.
_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}
_NORMALIZE_TO_LTZ = {"events"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Column pruning/pushdown happen at the scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, ()):
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint" or (
            dtype == "timestamp_ntz" and name in _NORMALIZE_TO_LTZ
        ):
            # Session-tz-independent wall-as-UTC LTZ (time.py rationale:
            # to_utc_timestamp would shift by the session offset).
            df = df.withColumn(c, wall_utc_timestamp(df, c))
    return df
