from changegen_spark.operators.ids import assign_sequential_ids, check_id_collision
from changegen_spark.operators.tags import merge_hstore_tags, parse_hstore
from changegen_spark.operators.ways import (
    cumulative_fraction,
    insertion_index,
    split_ways,
)
from changegen_spark.operators.dedup import grid_dedup_points

__all__ = [
    "assign_sequential_ids",
    "check_id_collision",
    "merge_hstore_tags",
    "parse_hstore",
    "cumulative_fraction",
    "insertion_index",
    "split_ways",
    "grid_dedup_points",
]
