"""Lightweight columnar codecs (pure numpy — no Spark dependency).

Integer codecs (int32 value streams): PLAIN, BITPACK, FOR (frame-of-reference),
RLE, DICT, DELTA — self-describing recursive blob format with exact size
estimates and per-chunk argmin selection, see ``ints.py``.
String codecs: STR_PLAIN and STR_DICT, one Arrow-buffer front-end; FSST
(symbol-table byte compression) blobs of earlier builds still decode, but
the encoder no longer writes them — see ``strings.py``. Lossless float codecs
(ALP, ALPrd) — see ``floats.py``.

Every stored blob starts with a one-byte id from the registry in
``ints.py``; the optional zstd post-pass (like Parquet pages,
``ints.wrap_zstd``) wraps only such blobs, so framing is never ambiguous.

The reference POC's one explicit lightweight encoding is pandas categorical
(dictionary) + float downcast (/root/reference/src/parquet_reader.py:464-494);
this package generalizes that seed into the full codec set demanded by the
north rule.
"""

from .ints import (
    CODEC_NAMES,
    decode_ints,
    encode_ints,
    encode_ints_auto,
    unwrap_zstd,
    wrap_zstd,
)
from .strings import decode_strings_arrow, encode_strings_arrow

__all__ = [
    "CODEC_NAMES",
    "decode_ints",
    "encode_ints",
    "encode_ints_auto",
    "encode_strings_arrow",
    "decode_strings_arrow",
    "wrap_zstd",
    "unwrap_zstd",
]
