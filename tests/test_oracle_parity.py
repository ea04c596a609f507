"""Driver-simulation: run every queries() entry on Spark AND its DuckDB
oracle at sf0.01, compare row sets (sorted columns, doubles rounded to
1e-9) — a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from optimal_parallel_fp_growth_spark.sources.catalog import TABLES


def _canon(rows, columns):
    """Order-insensitive canonical form: sort columns by name, round floats."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        return v

    return sorted(tuple(canon_val(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck(sf_oracle):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_oracle}/{t}.parquet')"
        )
    yield con
    con.close()


# Queries that run the FPM engine (mining, rules, transform, item counts).
FPM_QUERIES = {
    "apriori_rules", "assoc_rules", "count_rows", "freq_items", "freq_itemsets",
    "freq_itemsets_by_lang", "freq_itemsets_docs", "freq_itemsets_pfp",
    "tokenize_distinct", "transform", "transform_self", "word_count",
}
NAMES = [
    pytest.param(n, marks=pytest.mark.fpm) if n in FPM_QUERIES else n
    for n in sorted(entry_mod.queries().keys())
]


def test_every_query_has_callable_and_most_have_oracles():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    for name in os_:
        assert name in qs, f"oracle {name} has no query"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_oracle, duck):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_oracle)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    assert len(spark_rows) >= 0  # smoke: query runs

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(spark_rows) > 0, f"{name}: rows-only check requires rows"
        return
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    left, right = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    assert len(left) == len(right), f"{name}: row counts {len(left)} vs {len(right)}"
    assert left == right, f"{name}: value mismatch (first diff: "\
        f"{next(((a, b) for a, b in zip(left, right) if a != b), None)})"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"antecedent", "consequent", "confidence", "lift", "support"}


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_output_types_are_hashable(name, duck):
    """No oracle may emit DuckDB HUGEINT/UHUGEINT output columns.

    The external driver's value-hasher distinguishes int128 from int64 even
    when values are equal, so a bare integer ``sum()`` (HUGEINT in DuckDB,
    int64 in Spark) hash-reds a value-correct query. ``fetchall()`` converts
    HUGEINT to plain Python int, which is why the value-compare test above
    cannot catch this — only DESCRIBE sees the wire type. Round-7 verdict:
    the only 3 red driver rows ever were exactly the 3 HUGEINT oracles.
    Fix pattern: ``sum(x)::BIGINT AS alias`` in the oracle SQL.
    """
    sql = entry_mod.oracle_sql()[name]
    types = duck.execute(f"DESCRIBE ({sql})").fetchall()
    bad = [(col, typ) for col, typ, *_ in types if "HUGEINT" in typ.upper()]
    assert not bad, (
        f"{name}: oracle emits HUGEINT column(s) {bad}; cast with ::BIGINT "
        "so the driver's hash matches Spark's int64"
    )
