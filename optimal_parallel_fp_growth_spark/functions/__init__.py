from optimal_parallel_fp_growth_spark.functions.arrays import (
    has_duplicate_items,
    validate_unique_items,
)

__all__ = [
    "has_duplicate_items",
    "validate_unique_items",
]
