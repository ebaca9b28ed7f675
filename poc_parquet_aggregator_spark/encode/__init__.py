from .chunk import decode_token_chunk, encode_token_chunk
from .pipeline import (
    compact_encoded,
    compact_manifest,
    decode_verify,
    encode_dataset,
    plan_read,
    read_decoded,
    read_manifest,
    token_read_stats,
)
from .salted import encode_dataset_by_source
from .tokfilter import build_token_filter, merge_token_filters

__all__ = [
    "encode_token_chunk",
    "decode_token_chunk",
    "encode_dataset",
    "encode_dataset_by_source",
    "decode_verify",
    "plan_read",
    "read_decoded",
    "read_manifest",
    "compact_manifest",
    "compact_encoded",
    "token_read_stats",
    "build_token_filter",
    "merge_token_filters",
]
