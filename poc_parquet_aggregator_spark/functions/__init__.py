from .labels import (
    canonical_label_json,
    filter_labels_by_enabled_keys,
    merge_label_maps,
    parse_labels,
)
from .scalars import (
    days_in_month,
    effective_usage,
    strip_utc_suffix,
    to_usage_date,
)

__all__ = [
    "parse_labels",
    "merge_label_maps",
    "canonical_label_json",
    "filter_labels_by_enabled_keys",
    "effective_usage",
    "strip_utc_suffix",
    "to_usage_date",
    "days_in_month",
]
