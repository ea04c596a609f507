from optimal_parallel_fp_growth_spark.sources.catalog import TABLES, load_table
from optimal_parallel_fp_growth_spark.sources.text import read_baskets_text

__all__ = ["TABLES", "load_table", "read_baskets_text"]
