from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # smaller JVM for tests

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "fpm: frequent-pattern-mining tests (mining, rules, transform); "
        "run them alone with `pytest tests/ -m fpm`",
    )


@pytest.fixture(scope="session")
def spark():
    from optimal_parallel_fp_growth_spark.session import get_session

    s = get_session("opfpg-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def fpm_train(spark):
    """FIXTURES.md F1 — the Han/Kamber textbook transactions."""
    rows = [
        (1, ["I1", "I2", "I5"]),
        (2, ["I2", "I4"]),
        (3, ["I2", "I3"]),
        (4, ["I1", "I3"]),
        (5, ["I4", "I2", "I5", "I1"]),
    ]
    return spark.createDataFrame(rows, "tid long, items array<string>")


@pytest.fixture(scope="session")
def fpm_test(spark):
    """FIXTURES.md F2 — prediction probes."""
    rows = [
        (1, ["I1"]),
        (2, ["I2"]),
        (3, ["I3"]),
        (4, ["I4"]),
        (5, ["I5", "I2", "I3"]),
        (6, ["I6"]),
    ]
    return spark.createDataFrame(rows, "tid long, items array<string>")
