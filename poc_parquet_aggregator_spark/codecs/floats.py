"""ALP-style lossless float codec for double metadata columns.

Real-world double columns (quality scores, prices, ratios) are mostly
DECIMAL values — produced by `round(x, k)` or parsed from text with a few
fractional digits — so the double `x` is exactly representable as
`i * 10^f / 10^e` for one small integer pair `(e, f)` and an int64 `i`.
ALP (Afroozeh & Boncz, "ALP: Adaptive Lossless floating-Point
compression", SIGMOD 2023) exploits this: pick `(e, f)` from a sample,
encode each value as the scaled integer `round(x * 10^e / 10^f)`, verify
the decode expression BIT-IDENTICALLY at encode time, and patch the
misses (true full-precision doubles, NaN, ±inf, -0.0) through an
exception list.  The scaled-integer stream then rides the existing
int-codec stack (FOR / delta / bit-pack / RLE as two 32-bit planes, the
same split the int64 extras path uses), which is where the compression
actually happens — decimals with k fractional digits densely fill a
small integer range.

Losslessness is guaranteed by construction, not by numerical argument:
the encoder evaluates the EXACT decode expression
``(double(i) * 10^f) / 10^e`` (two correctly-rounded IEEE-754 ops, so
deterministic across machines) and compares bit patterns; any value that
does not round-trip becomes an exception.  The property tests in
tests/test_codecs.py fuzz this with hypothesis.

Reference parity note: the reference engine reads float columns through
pandas/PyArrow and only ever DOWNCASTS them for memory
(/root/reference/src/parquet_reader.py:464-494); it has no float
compression.  This codec extends the north-rule lightweight stack
(dict/RLE/FSST/bit-pack/FOR) with the published lightweight float
scheme, auto-selected against zstd(raw) by exact encoded size like every
other codec in the engine.

Blob layout (``ALP`` / ``ALPRD`` are ids of the registry in ints.py)::

    u8 ALP | u8 e | u8 f | u32 n_exceptions
    child(lo_blob)  child(hi_blob)      # scaled int64 as two int32 planes
    child(pos_blob)                     # exception row indexes (int32)
    child(exc_blob)                     # RAW blob of LE doubles

``child(b) = u32 len(b) || b``; every child is a registered blob, zstd-
wrapped when that is smaller.
"""

from __future__ import annotations

import struct

import numpy as np

from .ints import (
    ALP,
    ALPRD,
    BLOB_IDS,
    CODEC_NAMES,
    children,
    decode_ints,
    decode_raw,
    encode_ints_auto,
    raw_blob,
    read_children,
    wrap_zstd,
)

_U32 = struct.Struct("<I")

# 10^k is exactly representable in float64 for k <= 22; 18 covers every
# int64-fitting scale (ALP uses the same bound).
_POW10 = np.array([10.0 ** k for k in range(19)], dtype=np.float64)
_MAX_EXACT_INT = float(1 << 53)  # beyond this double(i) may not equal i
_SAMPLE = 1024


def _body(payload: bytes, codec_id: int) -> memoryview:
    if not payload or payload[0] != codec_id:
        raise ValueError(f"expected a {BLOB_IDS[codec_id]} blob")
    return memoryview(payload)[1:]


def _roundtrip_mask(x: np.ndarray, e: int, f: int) -> tuple[np.ndarray, np.ndarray]:
    """(hit_mask, scaled_int64) for candidate exponents: hit ⇔ the decode
    expression reproduces x bit-for-bit AND the scaled integer is exactly
    representable as a double (|i| ≤ 2^53, so decode's int→double cast is
    exact) — evaluated with the very ops the decoder will run."""
    with np.errstate(invalid="ignore", over="ignore"):
        scaled = np.round(x * _POW10[e] / _POW10[f])
        ok = np.isfinite(scaled) & (np.abs(scaled) <= _MAX_EXACT_INT)
        i = np.where(ok, scaled, 0.0).astype(np.int64)
        back = (i.astype(np.float64) * _POW10[f]) / _POW10[e]
    hit = ok & (back.view(np.int64) == x.view(np.int64))
    return hit, i


def _pick_exponents(x: np.ndarray) -> tuple[int, int, int]:
    """(e, f, sample_hits) maximizing sample round-trip hits.  The decode
    multiplier only depends on the effective scale d = e - f, so the scan
    is the 37 canonical pairs (d, 0) / (0, -d) for d in [-18, 18] rather
    than the full 361-cell grid (encode throughput is the headline
    metric).  Ties prefer the smallest d — decimals with k fractional
    digits also round-trip at every d > k, but with 10× larger scaled
    integers per step, so minimal d gives the narrowest bit-packs.
    Deterministic stride sample."""
    stride = max(1, len(x) // _SAMPLE)
    s = x[::stride][:_SAMPLE]
    best = (-1, 0)  # (hits, -d) ranking via tuple compare
    best_ef = (0, 0)
    for d in range(-18, 19):
        e, f = (d, 0) if d >= 0 else (0, -d)
        hit, _ = _roundtrip_mask(s, e, f)
        rank = (int(hit.sum()), -d)
        if rank > best:
            best = rank
            best_ef = (e, f)
    return best_ef[0], best_ef[1], best[0]


def encode_floats_alp(x: np.ndarray, zstd_level: int) -> tuple[bytes, str] | None:
    """ALP-encode a float64 array, or None when the sample shows no decimal
    structure at all (0 hits — pure noise / all-special columns, where the
    blob would be exceptions wearing a header).  The caller still compares
    the returned blob's size against zstd(raw) and keeps the winner, so
    this gate is only a fast-path skip, not the selector."""
    if x.dtype != np.float64:
        x = x.astype(np.float64)
    if len(x) == 0:
        return None
    e, f, sample_hits = _pick_exponents(x)
    if sample_hits == 0:
        return None
    # throughput guard (selection stays size-based): near-ulp scales like
    # d=16 "hit" on pure-noise mantissas, but the scaled ints then span
    # ~50+ bits and compress to nothing — skip before paying the
    # full-array encode. Width is FOR width over the hit sample.
    stride = max(1, len(x) // _SAMPLE)
    s = x[::stride][:_SAMPLE]
    hit_s, i_s = _roundtrip_mask(s, e, f)
    if hit_s.sum() and int(i_s[hit_s].max() - i_s[hit_s].min()).bit_length() >= 50:
        return None
    hit, i = _roundtrip_mask(x, e, f)
    pos = np.flatnonzero(~hit)
    if len(pos) * 2 >= len(x):  # mostly exceptions: ALP cannot win
        return None
    lo = (i & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
    hi = (i >> 32).astype(np.int32)
    lo_blob, lo_c = encode_ints_auto(lo)
    hi_blob, hi_c = encode_ints_auto(hi)
    pos_blob, _ = encode_ints_auto(pos.astype(np.int32))
    payload = (
        bytes([ALP, e, f])
        + _U32.pack(len(pos))
        + children(*(wrap_zstd(b, zstd_level) for b in (
            lo_blob, hi_blob, pos_blob, raw_blob(x[pos].tobytes())
        )))
    )
    name = f"f64_alp(e{e},f{f},{CODEC_NAMES[lo_c]}+{CODEC_NAMES[hi_c]})"
    return payload, name


# ──────────────────────────── ALPrd (real doubles) ──────────────────────────
#
# The paper's second mode, for columns the decimal scheme declines
# (sensor noise, physical constants, anything with live low mantissa
# bits): cut each 64-bit pattern into a LEFT part (sign + exponent +
# top mantissa bits, width ≤ 16) and a RIGHT remainder.  Real columns
# concentrate into few ranges, so the left parts repeat heavily — a
# ≤ 8-entry dictionary (3-bit codes) covers almost all rows; the rare
# missing left parts ride an exception list.  Right parts carry the
# random mantissa bits and are stored as two bit-packed planes.  Pure
# bit surgery — no float arithmetic — so losslessness needs no verify
# pass.  On uniform noise (the column ALP returns None for) this lands
# ≈ (3 + 64 − w_left) bits/value ≈ 55 vs 64 raw, where zstd shaves ~0.

_RD_MAX_DICT = 8  # 3-bit codes, the paper's cut
_RD_MAX_LEFT = 16  # left width bound: dict entries stay u16


def encode_floats_alprd(x: np.ndarray, zstd_level: int) -> tuple[bytes, str] | None:
    """ALPrd-encode a float64 array (always succeeds on non-empty input —
    the caller's exact-size argmin decides whether it ships)."""
    if x.dtype != np.float64:
        x = x.astype(np.float64)
    n = len(x)
    if n == 0:
        return None
    bits = x.view(np.uint64)
    # left-width scan on a stride sample: exact bit cost of (code + right
    # remainder) per value plus (left16 + pos32) per dictionary miss
    stride = max(1, n // _SAMPLE)
    s = bits[::stride][:_SAMPLE]
    best_wl, best_cost = 1, None
    for wl in range(1, _RD_MAX_LEFT + 1):
        wr = 64 - wl
        _, counts = np.unique(s >> np.uint64(wr), return_counts=True)
        topcnt = np.sort(counts)[::-1][:_RD_MAX_DICT].sum()
        cost = len(s) * (3 + wr) + (len(s) - int(topcnt)) * (16 + 32)
        if best_cost is None or cost < best_cost:
            best_wl, best_cost = wl, cost
    wl = best_wl
    wr = np.uint64(64 - wl)
    left = bits >> wr
    # dictionary from the SAME stride sample as the width scan — a
    # full-column np.unique would put an O(n log n) sort on the encode hot
    # path even when the argmin discards the blob; any left part the
    # sample missed rides the exception list (computed over the full
    # array), so this is a size tradeoff, never a correctness one
    vals, counts = np.unique(s >> wr, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    dict_vals = np.sort(vals[order[:_RD_MAX_DICT]])  # code = sorted rank
    code = np.searchsorted(dict_vals, left)
    code_c = np.minimum(code, len(dict_vals) - 1)
    hit = dict_vals[code_c] == left
    pos = np.flatnonzero(~hit)
    codes32 = np.where(hit, code_c, 0).astype(np.int32)
    right = bits & ((np.uint64(1) << wr) - np.uint64(1))
    lo = (right & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)
    hi = (right >> np.uint64(32)).astype(np.uint32).view(np.int32)  # ≤ 31 bits
    code_blob, code_c_id = encode_ints_auto(codes32)
    lo_blob, lo_c = encode_ints_auto(lo)
    hi_blob, hi_c = encode_ints_auto(hi)
    pos_blob, _ = encode_ints_auto(pos.astype(np.int32))
    excl_blob, _ = encode_ints_auto(left[pos].astype(np.uint32).view(np.int32))
    payload = (
        bytes([ALPRD, wl, len(dict_vals)])
        + _U32.pack(len(pos))
        + dict_vals.astype("<u2").tobytes()
        + children(*(wrap_zstd(b, zstd_level) for b in (
            code_blob, lo_blob, hi_blob, pos_blob, excl_blob
        )))
    )
    name = (
        f"f64_alprd(w{wl},x{len(pos)},"
        f"{CODEC_NAMES[code_c_id]}+{CODEC_NAMES[lo_c]}+{CODEC_NAMES[hi_c]})"
    )
    return payload, name


def decode_floats_alprd(payload: bytes) -> np.ndarray:
    """Exact inverse of encode_floats_alprd — pure bit reassembly."""
    mv = _body(payload, ALPRD)
    wl, nd = mv[0], mv[1]
    (n_exc,) = _U32.unpack_from(mv, 2)
    p = 6 + 2 * nd
    dict_vals = np.frombuffer(mv[6:p], dtype="<u2").astype(np.uint64)
    children = read_children(mv, p, 5)
    codes = decode_ints(children[0])
    left = dict_vals[codes]
    if n_exc:
        pos = decode_ints(children[3])
        left[pos] = decode_ints(children[4]).view(np.uint32).astype(np.uint64)
    lo = decode_ints(children[1]).view(np.uint32).astype(np.uint64)
    hi = decode_ints(children[2]).view(np.uint32).astype(np.uint64)
    wr = np.uint64(64 - wl)
    bits = (left << wr) | (hi << np.uint64(32)) | lo
    return bits.view(np.float64)


def decode_floats_alp(payload: bytes) -> np.ndarray:
    """Exact inverse of encode_floats_alp (bit-identical by construction)."""
    mv = _body(payload, ALP)
    e, f = mv[0], mv[1]
    (n_exc,) = _U32.unpack_from(mv, 2)
    children = read_children(mv, 6, 4)
    lo = decode_ints(children[0])
    hi = decode_ints(children[1])
    i = (hi.astype(np.int64) << 32) | lo.view(np.uint32).astype(np.int64)
    x = (i.astype(np.float64) * _POW10[f]) / _POW10[e]
    if n_exc:
        pos = decode_ints(children[2])
        x[pos] = np.frombuffer(decode_raw(children[3]), dtype=np.float64)
    return x
