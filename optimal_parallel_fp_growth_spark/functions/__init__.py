from optimal_parallel_fp_growth_spark.functions.arrays import (
    array_subset_of,
    has_duplicate_items,
    validate_unique_items,
)

__all__ = [
    "array_subset_of",
    "has_duplicate_items",
    "validate_unique_items",
]
