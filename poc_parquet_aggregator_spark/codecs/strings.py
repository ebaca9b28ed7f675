"""String-column codecs: STR_PLAIN, STR_DICT, FSST.

A string chunk is (concatenated utf-8 payload, int32 lengths). Lengths ride
the integer codec framework (ints.py); the payload gets one of:

* STR_PLAIN — raw bytes.
* STR_DICT  — dictionary of distinct strings + bit-packed codes; the Spark
  form of the reference's pandas-categorical optimization
  (/root/reference/src/parquet_reader.py:464-494, "50-70% memory savings").
* FSST      — symbol-table byte compression (Boncz/Neumann/Leis, "FSST: Fast
  Random Access String Compression", VLDB 2020): up to 254 symbols of 1-8
  bytes, escape byte 0xFF for uncovered bytes. Decode-only: earlier builds
  wrote FSST blobs and every one still reads, but the encoder no longer
  picks it — no measured string family kept its trial, which cost a
  pure-Python symbol-table training per chunk (ARCHITECTURE §2, "FSST is
  decode-only").

Blob format: ``codec_id:uint8 || payload`` like ints.py; the ids live in
the one registry there. There is one front-end: ``encode_strings_arrow``
(``choose_string_codec`` + the per-codec ``build_strings``) and
``decode_strings_arrow``, both working on Arrow buffers.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .ints import (
    BITPACK,
    BLOB_IDS,
    FSST,
    STR_DICT,
    STR_PLAIN,
    children,
    decode_ints,
    encode_ints,
    encode_ints_auto,
    read_children,
    unwrap_zstd,
)

STR_CODEC_NAMES = {c: BLOB_IDS[c] for c in (STR_PLAIN, STR_DICT, FSST)}

_U32 = struct.Struct("<I")
_ESCAPE = 0xFF  # FSST: the next byte is literal


# ----------------------------------------------------------------- encoders


def _plain_from_buffers(payload: bytes, lens: np.ndarray) -> bytes:
    lens_blob, _ = encode_ints_auto(np.ascontiguousarray(lens, dtype=np.int32), delta=False)
    return bytes([STR_PLAIN]) + _U32.pack(len(lens)) + children(lens_blob) + payload


def utf8_buffers(arr: "pa.Array") -> tuple[memoryview, np.ndarray]:
    """(concatenated utf-8 bytes, int32 lengths) of a StringArray: the
    bytes are a zero-copy view of its data buffer (its ``len`` is the
    column's raw string size); no per-row Python strings."""
    arr = arr.cast(pa.string())
    buf = arr.buffers()
    n = len(arr)
    if n == 0 or buf[2] is None:
        return memoryview(b""), np.zeros(n, dtype=np.int32)
    offsets = np.frombuffer(buf[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4)
    return memoryview(buf[2])[int(offsets[0]) : int(offsets[-1])], np.diff(offsets)


def choose_string_codec(arr: "pa.Array") -> int:
    """The codec for one string chunk: STR_DICT at low cardinality (≤
    max(16, n/4) distinct), else STR_PLAIN. FSST is never picked."""
    n = len(arr)
    if n and pc.count_distinct(arr).as_py() <= max(16, n // 4):
        return STR_DICT
    return STR_PLAIN


def build_strings(arr: "pa.Array", codec_id: int) -> bytes:
    """Encode one non-null Arrow string array with the given codec, from
    its offsets/data buffers. STR_DICT takes its dictionary from pyarrow's
    C++ ``dictionary_encode`` and stores it as a STR_PLAIN child."""
    if codec_id == STR_DICT:
        dict_arr = pc.dictionary_encode(arr)
        codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        payload, lens = utf8_buffers(dict_arr.dictionary)
        dict_blob = _plain_from_buffers(bytes(payload), lens)
        codes_blob = encode_ints(codes, BITPACK)
        return bytes([STR_DICT]) + _U32.pack(len(arr)) + children(dict_blob, codes_blob)
    if codec_id == STR_PLAIN:
        payload, lens = utf8_buffers(arr)
        return _plain_from_buffers(bytes(payload), lens)
    raise ValueError(f"string codec {codec_id} has no encoder")


def encode_strings_arrow(arr) -> tuple[bytes, int]:
    """Encode a pyarrow string array (chunked or not, NULL read as "")
    WITHOUT materializing per-row Python strings (the object churn causes
    allocator TLB storms at high task concurrency — measured 10× collapse
    at 32 workers). Returns (blob, codec_id); the blob is NOT zstd-wrapped
    (the caller wraps)."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    arr = arr.fill_null("") if arr.null_count else arr
    codec_id = choose_string_codec(arr)
    return build_strings(arr, codec_id), codec_id


# ----------------------------------------------------------------- decoders


def decode_strings_arrow(blob: bytes) -> "pa.Array":
    """Decode a string chunk (zstd-wrapped or not) to a pyarrow StringArray
    — the only string parser: the utf-8 payload and offsets become Arrow
    buffers with ZERO per-row PyUnicode objects (the encode side's measured
    TLB-storm applies symmetrically on read-back). STR_PLAIN builds from
    buffers; STR_DICT decodes the (small) dictionary then materializes via
    C++ take; FSST decodes per-string payloads (the symbol scan is
    per-string by format) but still assembles the result from one
    concatenated buffer. A truncated blob raises ValueError."""
    blob = unwrap_zstd(blob)
    codec_id = blob[0]
    body = memoryview(blob)[1:]
    if codec_id == STR_PLAIN:
        (n,) = _U32.unpack_from(body, 0)
        (llen,) = _U32.unpack_from(body, 4)
        lens = decode_ints(bytes(body[8 : 8 + llen]))
        return _from_payload(bytes(body[8 + llen :]), lens, n)
    if codec_id == STR_DICT:
        (n,) = _U32.unpack_from(body, 0)
        dict_blob, code_blob = read_children(body, 4, 2)
        codes = decode_ints(code_blob)
        if len(codes) != n:
            raise ValueError(f"malformed STR_DICT blob: {len(codes)} codes for {n} rows")
        return pc.take(decode_strings_arrow(dict_blob), pa.array(codes, type=pa.int32()))
    if codec_id == FSST:
        (n,) = _U32.unpack_from(body, 0)
        n_sym = body[4]
        (slen,) = _U32.unpack_from(body, 5)
        sym_raw = bytes(body[9 : 9 + slen])
        table, i = [], 0
        for _ in range(n_sym):
            ln = sym_raw[i]
            table.append(sym_raw[i + 1 : i + 1 + ln])
            i += 1 + ln
        (ellen,) = _U32.unpack_from(body, 9 + slen)
        enc_lens = decode_ints(bytes(body[13 + slen : 13 + slen + ellen]))
        enc = bytes(body[13 + slen + ellen :])
        offs = _offsets(enc_lens, n, len(enc))
        pieces = [_fsst_decode_payload(enc[offs[i] : offs[i + 1]], table) for i in range(n)]
        lens = np.fromiter((len(p) for p in pieces), dtype=np.int32, count=n)
        return _from_payload(b"".join(pieces), lens, n)
    raise ValueError(f"unknown string codec {codec_id}")


def _fsst_decode_payload(enc: bytes, table: list[bytes]) -> bytes:
    out = bytearray()
    i, n = 0, len(enc)
    append = out.extend
    while i < n:
        b = enc[i]
        if b == _ESCAPE:
            append(enc[i + 1 : i + 2])
            i += 2
        else:
            append(table[b])
            i += 1
    return bytes(out)


def _offsets(lens: np.ndarray, n: int, total: int) -> np.ndarray:
    """int64 offsets of ``n`` strings of ``lens`` bytes that must tile a
    ``total``-byte payload exactly."""
    if len(lens) != n:
        raise ValueError(f"malformed string blob: {len(lens)} lengths for {n} rows")
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    if offs[-1] != total:
        raise ValueError(f"truncated string blob: {total} payload bytes, {offs[-1]} declared")
    return offs


def _from_payload(payload: bytes, lens: np.ndarray, n: int) -> "pa.Array":
    offs = _offsets(lens, n, len(payload))
    # the encoder takes utf8 (int32-offset) chunks only, so no stored blob
    # decodes past 2 GiB: one that does (an FSST blob whose symbols expand
    # it) is corrupt, and wrapping its offsets to int32 would be wrong
    if offs[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"corrupt string blob: decodes to {offs[-1]} payload bytes (≥2 GiB)")
    return pa.Array.from_buffers(
        pa.utf8(), n,
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(payload)],
    )
