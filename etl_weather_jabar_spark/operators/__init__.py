from .projections import flatten_raw
from .filters import (
    eq_filter,
    in_filter,
    no_future_rows,
    null_reject,
    prefix_filter,
)
from .dedup import dedupe_keep_first, find_duplicate_groups
from .joins import (
    anti_join_composite,
    anti_join_unprocessed,
    broadcast_lookup,
    grid_align,
    minute_grid,
    range_join_bucketed,
    salted_join,
)
from .aggregates import daily_recap, deterministic_mode
from .windows import (
    global_rank_scalable,
    keep_first_rank,
    scalable_ntile,
    scalable_prefix_sum,
    stamp_group_flag,
)
from .partitioning import spread

__all__ = [
    "flatten_raw",
    "eq_filter",
    "in_filter",
    "no_future_rows",
    "null_reject",
    "prefix_filter",
    "dedupe_keep_first",
    "find_duplicate_groups",
    "anti_join_composite",
    "anti_join_unprocessed",
    "broadcast_lookup",
    "grid_align",
    "minute_grid",
    "range_join_bucketed",
    "salted_join",
    "daily_recap",
    "deterministic_mode",
    "global_rank_scalable",
    "keep_first_rank",
    "scalable_ntile",
    "scalable_prefix_sum",
    "stamp_group_flag",
    "spread",
]
