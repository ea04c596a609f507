"""Frequent-pattern-mining engine on PySpark, with the capabilities of
Radeity/optimal-parallel-fp-growth: frequent itemsets through FP, PFP and
EPFP (load-balanced Parallel FP-Growth) or Apriori, association rules
derived from them, and recommendations served from the rules. Built on
DataFrames, so Catalyst plans every stage.

The package root imports only that engine, so importing it (as every
Python worker of the mining stage does) loads no pandas, numpy or
pyarrow. The other operators (dedup, similarity search, text analysis,
multimodal plumbing, versioned tables, streaming) are imported from
their own modules under ``operators/``, ``sources/``, ``functions/``,
``plans/`` and ``streaming/``.

Reference parity citations such as ``epfp/EPFP.scala:26`` are paths in
the reference repository.
"""

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth, FPGrowthModel
from optimal_parallel_fp_growth_spark.session import get_session
from optimal_parallel_fp_growth_spark.sources.text import read_baskets_text

__all__ = [
    "get_session",
    "FPGrowth",
    "FPGrowthModel",
    "read_baskets_text",
]

__version__ = "0.1.0"
