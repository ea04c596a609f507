"""SparkSession factory.

The engine always runs on ``local[$SPARK_GRAFT_CPUS]``: the driver and
every Python worker share one filesystem, so the repo-root worker daemon
module (``opfpg_daemon_preload``) is importable by construction. The
other knobs are sizing-relative (AQE on, adaptive skew handling, Arrow
for the pandas-UDF paths); nothing here is machine-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "opfpg-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale stance: every knob below is sizing-relative, not absolute —
    AQE coalesces the shuffle partitions to the data, and
    ``maxPartitionBytes`` keeps scan tasks ~128 MB so a large input fans
    out over many tasks instead of overloading a few.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate infers `size(x)>0 AND isnotnull(x)`
        # from every explode(x), and predicate pushdown then SUBSTITUTES
        # x's defining expression below the exchange, so an explode over
        # a derived array (a tokenized text column, for instance)
        # re-computes the derivation up to 3× per row in the scan stage.
        # The rule only ever prunes rows that explode() would drop
        # anyway (no result change), and none of its inferred predicates
        # are parquet-pushable here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Python workers fork from a per-executor daemon; pre-importing
        # pandas/numpy/pyarrow IN the daemon (opfpg_daemon_preload.py,
        # a repo-root module so ``python -m`` never executes the engine
        # package __init__) makes every forked worker inherit them via
        # copy-on-write instead of paying the ~1 s import chain per
        # worker on its first Arrow batch.
        .config("spark.python.daemon.module", "opfpg_daemon_preload")
        # the daemon module must be importable by the worker python
        # regardless of the launch directory (local mode: same host)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                filter(
                    None,
                    [
                        os.path.dirname(
                            os.path.dirname(os.path.abspath(__file__))
                        ),
                        os.environ.get("PYTHONPATH"),
                    ],
                )
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
