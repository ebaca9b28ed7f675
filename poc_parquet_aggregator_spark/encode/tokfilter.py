"""Token-membership filters over the encoded table.

A training-data pipeline's sharpest selective read is by token CONTENT:
"every document containing canary token X" (contamination audits),
"sequences containing a special/control token" (filtering before a run),
"documents with any token from a banned id set". At 10^12 sequences that
query must NOT decode every token blob — it needs the Iceberg-puffin /
Parquet-bloom discipline applied to this format's own metadata:

  * per CHUNK: a token-membership filter rides the chunk row
    (``tok_filter`` binary column) next to the zone columns ``tok_min`` /
    ``tok_max``. The decode kernel tests both before any blob is parsed:
    the zones skip chunks whose token range misses the ids, the filter
    skips chunks whose range overlaps but which don't contain them.
  * per FILE: the OR of the chunk filters lands in a sidecar file
    ``data/<stem>/tokfilter-<uuid>.bin``, written under a fresh name
    before the manifest record that names it (in ``tok_filter``, next to
    the file-level ``tok_min`` / ``tok_max``) commits it. A token read
    prunes whole files driver-side before any parquet footer is opened —
    the manifest-level analog of the doc_id / n_tok bounds, kept OUT of
    the manifest JSON so listing cost doesn't grow by kilobytes per file
    (Iceberg keeps blooms in puffin sidecars for the same reason).

Filter modes (one byte in the header, per filter, chosen by value span):

  * EXACT (mode 3): a bitmap over ``[tok_min, tok_max]`` — bit j set iff
    token ``tok_min + j`` occurs. Chosen when the span is ≤ 2^20 (raw
    bitmap ≤ 128 KiB before the zstd pass — a 50k-token vocab costs
    ~6 KiB raw and compresses to ~1-2 KiB against multi-MB chunk blobs).
    NO false positives and no false negatives: for real tokenizer vocabs
    (50k-256k ids) every chunk takes this mode.
  * HASHED (mode 4): a fixed 2^15-bit one-hash bloom over a Fibonacci
    hash of the id, for arbitrary int32 token spaces where an exact
    bitmap would not fit. No false negatives; false positives only cost
    a wasted decode, never a wrong row (the decode kernel's exact per-doc
    row test always runs).

The bitmap after the header is a ``RAW`` blob (codecs/ints.py), zstd-
wrapped when that is smaller. Filters written before that framing used
modes 1 and 2 with unframed bitmaps; they raise ``ValueError`` asking for
a re-encode rather than being guessed at.

Both modes are deterministic functions of the chunk's values, so resume
re-produces byte-identical filters (the manifest/commit invariant).

Reference analog: the reference validates Parquet STATISTICS against
expected aggregates (src/parquet_generator.py footer metadata writes);
this module is that idea promoted to content-addressed read pruning.
"""

from __future__ import annotations

import struct

import numpy as np

from ..codecs.ints import decode_raw, raw_blob, wrap_zstd

MODE_EXACT = 3
MODE_HASHED = 4
_OLD_MODES = (1, 2)  # unframed bitmaps: rejected, never guessed at

EXACT_SPAN_LIMIT = 1 << 20  # max exact-bitmap span (128 KiB raw)
HASHED_BITS = 1 << 15  # fallback one-hash bloom width (4 KiB raw)

_FIB = np.uint64(0x9E3779B97F4A7C15)
# header: mode u8 | tok_min i64 | tok_max i64 | nbits u32
_HDR = struct.Struct("<BqqI")


def _hash_slots(ids: np.ndarray, nbits: int) -> np.ndarray:
    """Fibonacci-hash int token ids into [0, nbits) (nbits a power of 2).
    The multiply diffuses low-entropy id patterns (sequential vocab ids)
    across the high bits; we read the slot from the top 32."""
    v = ids.astype(np.int64).view(np.uint64)
    return ((v * _FIB) >> np.uint64(32)).astype(np.uint64) & np.uint64(nbits - 1)


def _pack(mode: int, lo: int, hi: int, nbits: int, present: np.ndarray) -> bytes:
    bits = np.packbits(present, bitorder="little")
    return _HDR.pack(mode, lo, hi, nbits) + wrap_zstd(raw_blob(bits), level=3)


def build_token_filter(flat: np.ndarray) -> bytes:
    """Membership filter over one chunk's flattened token values."""
    if flat.size == 0:
        # empty value set: inverted zone (hi < lo) rejects every probe
        return _pack(MODE_EXACT, 0, -1, 0, np.zeros(0, dtype=np.bool_))
    lo, hi = int(flat.min()), int(flat.max())
    span = hi - lo + 1
    if span <= EXACT_SPAN_LIMIT:
        present = np.zeros(span, dtype=np.bool_)
        present[flat.astype(np.int64) - lo] = True  # O(n), no sort
        return _pack(MODE_EXACT, lo, hi, span, present)
    present = np.zeros(HASHED_BITS, dtype=np.bool_)
    present[_hash_slots(flat, HASHED_BITS)] = True
    return _pack(MODE_HASHED, lo, hi, HASHED_BITS, present)


def _parse(blob: bytes) -> tuple[int, int, int, int, bytes]:
    if len(blob) <= _HDR.size:
        raise ValueError("truncated token filter")
    mode, lo, hi, nbits = _HDR.unpack_from(blob)
    if mode in _OLD_MODES:
        raise ValueError(
            f"token filter in the pre-framing layout (mode {mode}); "
            "re-encode the dataset"
        )
    if mode not in (MODE_EXACT, MODE_HASHED):
        raise ValueError(f"unknown token filter mode {mode}")
    return mode, lo, hi, nbits, blob[_HDR.size :]


def _bits(payload: bytes, nbits: int) -> np.ndarray:
    """The filter's packed bitmap bytes (``nbits`` bits, little-endian)."""
    bits = np.frombuffer(decode_raw(payload), dtype=np.uint8)
    if len(bits) != (nbits + 7) // 8:
        raise ValueError(f"token filter bitmap holds {len(bits)} bytes for {nbits} bits")
    return bits


def token_filter_bounds(blob: bytes) -> tuple[int, int]:
    """(tok_min, tok_max) recorded in the filter header (hi < lo = empty)."""
    _, lo, hi, _, _ = _parse(blob)
    return lo, hi


def token_filter_contains_any(blob: bytes, tokens) -> bool:
    """ANY-match probe over an id list: may the filtered value set contain
    any of ``tokens``? Never a false negative; false positives only in
    HASHED mode. One header parse and one zstd decompression for the
    whole list, so a K-id banned set costs one decompression per filter,
    not K."""
    mode, lo, hi, nbits, payload = _parse(blob)
    ids = np.asarray([int(t) for t in tokens if lo <= t <= hi], dtype=np.int64)
    if ids.size == 0:
        return False
    bits = _bits(payload, nbits)
    j = ids - lo if mode == MODE_EXACT else _hash_slots(ids, nbits).astype(np.int64)
    return bool(((bits[j >> 3] >> (j & 7).astype(np.uint8)) & 1).any())


def _present(payload: bytes, nbits: int) -> np.ndarray:
    return np.unpackbits(_bits(payload, nbits), count=nbits, bitorder="little").astype(np.bool_)


def merge_token_filters(blobs: list[bytes]) -> bytes:
    """OR chunk filters into one file-level filter (the sidecar payload).

    Exact inputs whose union span still fits stay exact (zero false
    positives file-level too). Any hashed input, or an over-limit union
    span, degrades the merge to HASHED — exact inputs re-hash by
    enumerating their set bits (≤ 2^20 ids, one vectorized pass each)."""
    parsed = [p for p in (_parse(b) for b in blobs) if p[2] >= p[1]]
    if not parsed:
        return _pack(MODE_EXACT, 0, -1, 0, np.zeros(0, dtype=np.bool_))
    lo = min(p[1] for p in parsed)
    hi = max(p[2] for p in parsed)
    span = hi - lo + 1
    if all(p[0] == MODE_EXACT for p in parsed) and span <= EXACT_SPAN_LIMIT:
        present = np.zeros(span, dtype=np.bool_)
        for _, b_lo, _b_hi, nbits, payload in parsed:
            window = present[b_lo - lo : b_lo - lo + nbits]
            np.logical_or(window, _present(payload, nbits), out=window)
        return _pack(MODE_EXACT, lo, hi, span, present)
    present = np.zeros(HASHED_BITS, dtype=np.bool_)
    for mode, b_lo, _b_hi, nbits, payload in parsed:
        if mode == MODE_HASHED:
            if nbits == HASHED_BITS:
                np.logical_or(present, _present(payload, nbits), out=present)
            else:  # defensive: re-hash slots of a differently-sized bloom
                # can't recover ids from a bloom — saturate conservatively
                present[:] = True
        else:
            ids = b_lo + np.flatnonzero(_present(payload, nbits))
            present[_hash_slots(ids, HASHED_BITS)] = True
    return _pack(MODE_HASHED, lo, hi, HASHED_BITS, present)
