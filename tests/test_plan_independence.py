"""Results must be plan-independent: forcing the shuffle-join fallback
(broadcast disabled) cannot change any query's output."""

from __future__ import annotations

import pytest

from optimal_parallel_fp_growth_spark.queries import QUERIES

NAMES = [
    "revenue_by_nation",
    "top_suppliers_per_nation",
    pytest.param("transform", marks=pytest.mark.fpm),
    "knn_ann",
]


@pytest.mark.parametrize("name", NAMES)
def test_same_result_without_broadcast(spark, sf_small, name):
    q = QUERIES[name]
    with_bc = {tuple(r) for r in q(spark, sf_small).collect()}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        without_bc = {tuple(r) for r in q(spark, sf_small).collect()}
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert with_bc == without_bc and len(with_bc) > 0
