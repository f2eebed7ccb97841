from .aggregates import argmax_rows, group_agg
from .joins import asof_join, broadcast_dim_join
from .topk import top_k, top_k_per_group
from .windows import moving_agg, sessionize, snapshot_delta

__all__ = [
    "argmax_rows",
    "group_agg",
    "asof_join",
    "broadcast_dim_join",
    "top_k",
    "top_k_per_group",
    "moving_agg",
    "snapshot_delta",
    "sessionize",
]
