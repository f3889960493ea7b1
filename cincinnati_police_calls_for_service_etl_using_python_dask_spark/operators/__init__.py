from .relational import (
    bucketed_range_join,
    multiway_join,
    rename_all,
    semi_join,
    anti_join,
    top_k,
    union_all,
)
from .aggregates import (
    group_agg,
    group_agg_bitmap_fused,
    group_agg_single_distinct,
    null_profile,
    pivot_count_distinct,
    value_counts,
)
from .dedup import latest_per_key
from .ivm import (
    delta_state,
    distinct_delta_state,
    distinct_state_of,
    finalize_distinct,
    finalize_minmax,
    finalize_state,
    merge_states,
    refresh_view,
    state_of,
)
from .packing import pack_sequences
from .sampling import hash_sample, hash_split, stratified_hash_sample

__all__ = [
    "anti_join",
    "bucketed_range_join",
    "group_agg",
    "group_agg_bitmap_fused",
    "group_agg_single_distinct",
    "delta_state",
    "distinct_delta_state",
    "distinct_state_of",
    "finalize_distinct",
    "finalize_minmax",
    "finalize_state",
    "merge_states",
    "refresh_view",
    "state_of",
    "hash_sample",
    "hash_split",
    "latest_per_key",
    "multiway_join",
    "null_profile",
    "pack_sequences",
    "pivot_count_distinct",
    "rename_all",
    "semi_join",
    "stratified_hash_sample",
    "top_k",
    "union_all",
    "value_counts",
]
