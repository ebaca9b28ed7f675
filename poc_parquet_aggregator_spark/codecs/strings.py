"""String-column codecs: STR_PLAIN, STR_DICT, FSST.

A string chunk is (concatenated utf-8 payload, int32 lengths). Lengths ride
the integer codec framework (ints.py); the payload gets one of:

* STR_PLAIN — raw bytes.
* STR_DICT  — dictionary of distinct strings + bit-packed codes; the Spark
  form of the reference's pandas-categorical optimization
  (/root/reference/src/parquet_reader.py:464-494, "50-70% memory savings").
* FSST      — symbol-table byte compression (Boncz/Neumann/Leis, "FSST: Fast
  Random Access String Compression", VLDB 2020): up to 254 symbols of 1-8
  bytes learned from a sample by iterative pair-merging; greedy
  longest-match encode; escape byte 0xFF for uncovered bytes. The encode hot
  path is a compiled regex alternation (C-speed scan, leftmost-longest via
  length-sorted alternation) — no per-character Python.

Blob format: ``codec_id:uint8 || payload`` like ints.py; the ids live in
the one registry there. There is one front-end: ``encode_strings_arrow``
(``choose_string_codec`` + the per-codec ``build_strings``) and
``decode_strings_arrow``, both working on Arrow buffers.
"""

from __future__ import annotations

import re
import struct
from collections import Counter

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
    wrap_zstd,
)

STR_CODEC_NAMES = {c: BLOB_IDS[c] for c in (STR_PLAIN, STR_DICT, FSST)}

_U32 = struct.Struct("<I")

_ESCAPE = 0xFF
_MAX_SYMBOLS = 254  # codes 0..253; 0xFF = escape
_MAX_SYMBOL_LEN = 8
_TRAIN_ITERS = 5
# a trial sample (the first 512 strings) with fewer payload bytes than
# this returns STR_PLAIN untrained: no measured family won with FSST from
# a sample this small, and the pure-Python trial costs 14-253 ms a chunk
# (ARCHITECTURE §2, "FSST floor")
_FSST_MIN_SAMPLE_BYTES = 2048


# ------------------------------------------------------------- FSST training


def _train_symbols(sample_strings: list[bytes]) -> list[bytes]:
    """Learn ≤254 symbols by iterative re-parse + pair-merge (FSST §3.3
    shape): parse the sample under the current table, credit each symbol its
    REALIZED gain ((len-1) × frequency), propose adjacent-pair
    concatenations at a discounted gain, always retain observed single
    bytes (escape avoidance), keep the top earners. 6 rounds converge on
    e.g. 8-byte digit-prefix symbols for doc-id-style strings (measured
    3.9× on 'doc-%012d' vs 1.3× for the naive one-shot count)."""
    if not sample_strings:
        return []
    counts = Counter(b for s in sample_strings for b in s)
    table = [bytes([b]) for b, _ in counts.most_common(_MAX_SYMBOLS)]
    for _ in range(_TRAIN_ITERS):
        pattern = _compile_pattern(table)
        sym_freq: Counter = Counter()
        pair_freq: Counter = Counter()
        for d in sample_strings:
            toks = pattern.findall(d)
            sym_freq.update(toks)
            for a, b in zip(toks, toks[1:]):
                if len(a) + len(b) <= _MAX_SYMBOL_LEN:
                    pair_freq[a + b] += 1
        gain: Counter = Counter()
        for s, c in sym_freq.items():
            gain[s] = (len(s) - 1) * c
        for s, c in pair_freq.items():
            gain[s] += (len(s) - 1) * c // 2  # discount un-realized pairs
        singles = [s for s in gain if len(s) == 1]
        multis = sorted((s for s in gain if len(s) > 1), key=lambda s: (-gain[s], s))
        table = (singles + multis)[:_MAX_SYMBOLS]
    table.sort(key=lambda s: (-len(s), s))
    return table


def _compile_pattern(table: list[bytes]) -> "re.Pattern[bytes]":
    # longest-first alternation → greedy longest match at each position;
    # trailing '.' (DOTALL) consumes bytes not covered by any symbol.
    alts = sorted(table, key=len, reverse=True)
    pat = b"|".join(re.escape(s) for s in alts)
    if pat:
        pat += b"|"
    return re.compile(pat + b"(?s:.)")


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


# ----------------------------------------------------------------- encoders


def _fsst_from_payload(payload: bytes, lens: np.ndarray) -> bytes:
    """FSST-encode a string chunk given only its flat utf-8 payload and
    per-string lengths — the representation Arrow's offsets/data buffers
    give for free, so no per-row Python strings are ever materialized
    (bytes SLICES of one payload are cheap; decoded PyUnicode objects are
    the measured 10× TLB-storm at 32 workers). Symbols never span string
    boundaries (FSST's per-string semantics), which also yields exact
    per-string encoded lengths for random-access decode."""
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    n_sample = min(512, len(lens))
    sample_strings = [payload[offs[i] : offs[i + 1]] for i in range(n_sample)]
    table = _train_symbols(sample_strings)
    pattern = _compile_pattern(table)
    code_of = {s: bytes([i]) for i, s in enumerate(table)}
    esc = bytes([_ESCAPE])

    def repl(m: "re.Match[bytes]") -> bytes:
        c = code_of.get(m.group(0))
        return c if c is not None else esc + m.group(0)

    pieces = [
        pattern.sub(repl, payload[offs[i] : offs[i + 1]]) for i in range(len(lens))
    ]
    enc = b"".join(pieces)
    enc_lens = np.fromiter((len(p) for p in pieces), dtype=np.int32, count=len(pieces))
    sym_blob = b"".join(bytes([len(s)]) + s for s in table)
    return (
        bytes([FSST])
        + _U32.pack(len(lens))
        + bytes([len(table)])
        + children(sym_blob, encode_ints_auto(enc_lens, delta=False)[0])
        + enc
    )


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
    """The codec for one string chunk, picked per the north rule:
      * low cardinality (≤ max(16, n/4) distinct) → STR_DICT;
      * STR_PLAIN, untrained, when the 512-string sample holds fewer
        than ``_FSST_MIN_SAMPLE_BYTES`` payload bytes;
      * FSST when that sample is < 0.9× STR_PLAIN after zstd (the size
        that is stored);
      * else STR_PLAIN.
    The trial runs on slices of the Arrow payload, never on Python strings."""
    n = len(arr)
    if n == 0:
        return STR_PLAIN
    if pc.count_distinct(arr).as_py() <= max(16, n // 4):
        return STR_DICT
    sample, lens = utf8_buffers(arr[: min(512, n)])
    if len(sample) < _FSST_MIN_SAMPLE_BYTES:
        return STR_PLAIN
    sample = bytes(sample)
    fsst = wrap_zstd(_fsst_from_payload(sample, lens))
    if len(fsst) < 0.9 * len(wrap_zstd(_plain_from_buffers(sample, lens))):
        return FSST
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
    payload, lens = utf8_buffers(arr)
    payload = bytes(payload)
    if codec_id == STR_PLAIN:
        return _plain_from_buffers(payload, lens)
    if codec_id == FSST:
        return _fsst_from_payload(payload, lens)
    raise ValueError(f"unknown string codec {codec_id}")


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
