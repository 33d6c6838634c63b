"""Panel-table operator library (SURVEY.md §2 inventory)."""

from .agearrays import (
    calculate_pair_tested,
    calculate_sex_people_tested,
    enrich_nested_rates,
)
from .asof import (
    asof_join,
    latest_two_releases_delta,
    range_join,
    release_delta,
    scd2_intervals,
    snapshot_diff,
)
from .derived import (
    calculate_by_adjacent_column,
    calculate_pair_summations,
    negative_to_zero,
    ratio_to_percentage,
)
from .combine import combine_supplements
from .hashing import row_hash_blake2, row_hash_sha2
from .relabel import (
    drop_empty_rows,
    drop_weekly_metric_nulls,
    relabel_area_names,
)
from .skew import adaptive_join, probe_hot_keys, salted_join
from .homogenise import homogenise_dates
from .nesting import (
    flatten_nested_metrics,
    nest_records,
    wrap_payload,
    wrap_payload_column,
)
from .normalise import normalise_demographics_records, normalise_records
from .pivoting import melt, pivot_max
from .rates import calculate_rates
from .rolling import (
    change_by_sum,
    cumulative_sum,
    direction_col,
    percentage_change_col,
    rolling_mean_centered,
    rolling_percentile,
)
from .sessions import session_stats, sessionize
from .suppress import suppress_by_rolling_sum, weekly_thin
from .topk import latest_date_only, latest_per_group
from .trim import trim_end, trim_sides
from .util import with_scalars

__all__ = [
    "asof_join",
    "combine_supplements",
    "range_join",
    "rolling_percentile",
    "scd2_intervals",
    "snapshot_diff",
    "calculate_by_adjacent_column",
    "calculate_pair_tested",
    "calculate_sex_people_tested",
    "enrich_nested_rates",
    "calculate_pair_summations",
    "calculate_rates",
    "change_by_sum",
    "cumulative_sum",
    "direction_col",
    "drop_empty_rows",
    "drop_weekly_metric_nulls",
    "homogenise_dates",
    "latest_date_only",
    "latest_per_group",
    "latest_two_releases_delta",
    "melt",
    "negative_to_zero",
    "flatten_nested_metrics",
    "nest_records",
    "normalise_demographics_records",
    "normalise_records",
    "percentage_change_col",
    "pivot_max",
    "ratio_to_percentage",
    "relabel_area_names",
    "release_delta",
    "rolling_mean_centered",
    "row_hash_blake2",
    "row_hash_sha2",
    "adaptive_join",
    "probe_hot_keys",
    "salted_join",
    "session_stats",
    "sessionize",
    "suppress_by_rolling_sum",
    "trim_end",
    "trim_sides",
    "weekly_thin",
    "with_scalars",
    "wrap_payload",
    "wrap_payload_column",
]
