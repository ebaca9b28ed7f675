"""Integer codecs over int32 value streams, and the blob id registry.

Self-describing blob format: ``blob = codec_id:uint8 || payload``, with
``codec_id`` from the one registry below (``BLOB_IDS``) for every stored
blob of the engine. ``wrap_zstd`` wraps only such blobs, so a zstd frame is
unambiguous. Codecs compose recursively (RLE's run-values and run-lengths
are themselves blobs; DICT's dictionary and codes are blobs), so the
auto-selector can nest e.g. RLE(FOR(values), FOR(lengths)).

All kernels are fully vectorized numpy — the Spark pipeline calls them from
Arrow-batched pandas UDFs, never per row (BASELINE.json input_hint: "no
per-row Python"). Encode→decode is bit-identical for any int32 input,
property-tested in tests/test_codecs.py; a truncated blob raises
``ValueError``.

Sizes (see estimate_sizes) are exact for this format, which makes the
auto-selector's argmin a true argmin rather than a heuristic.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

# ---- blob id registry: one byte, distinct across every codec family
PLAIN = 0
BITPACK = 1  # FOR with reference 0 (requires min >= 0)
FOR = 2  # frame-of-reference + bit-pack
RLE = 3  # run-length: child blobs for run values + run lengths
DICT = 4  # dictionary: child blobs for dict values + codes
ZSTD = 5  # transparent post-pass wrapper around any other registered blob
DELTA = 6  # successive differences (uint32 wraparound), child blob for deltas
RAW = 7  # uninterpreted bytes (token-filter bitmaps, raw doubles)
STR_PLAIN, STR_DICT, FSST = 16, 17, 18  # string codecs (strings.py)
ALP, ALPRD = 24, 25  # float codecs (floats.py)
TOK = 32  # token chunks (encode/chunk.py)

CODEC_NAMES = {
    PLAIN: "plain", BITPACK: "bitpack", FOR: "for", RLE: "rle",
    DICT: "dict", ZSTD: "zstd", DELTA: "delta",
}
BLOB_IDS = {
    **CODEC_NAMES, RAW: "raw", STR_PLAIN: "str_plain", STR_DICT: "str_dict",
    FSST: "fsst", ALP: "f64_alp", ALPRD: "f64_alprd", TOK: "tok",
}

_U32 = struct.Struct("<I")
_I64 = struct.Struct("<q")

_ZSTD_CODECS: dict[int, pa.Codec] = {}


def _zstd(level: int) -> pa.Codec:
    c = _ZSTD_CODECS.get(level)
    if c is None:
        c = _ZSTD_CODECS[level] = pa.Codec("zstd", compression_level=level)
    return c


# ---------------------------------------------------------------- bit packing


def _bit_width(max_delta: int) -> int:
    """Bits needed to represent values in [0, max_delta]."""
    if max_delta <= 0:
        return 0
    return int(max_delta).bit_length()


# n × width at or below this many bits packs through np.packbits over the
# n×width bit matrix, above it through the word-parallel loop: at width 11
# packbits takes 0.013 ms at n = 64 against 0.52 ms, 0.35 against 0.50 ms
# at n = 10k, but 3.5 ms at n = 100k against 1.0 ms (ARCHITECTURE §2)
_PACKBITS_MAX_BITS = 1 << 17
# unpack_bits' own cut for its bit-matrix path: it takes 0.42-0.48× the
# word loop's time at 2^17 bits and 0.61-0.72× at 2^18 at widths 3-27,
# but loses at 2^19 from width 5 up (ARCHITECTURE §2)
_UNPACKBITS_MAX_BITS = 1 << 18


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative values into ``width``-bit little-endian cells.

    Word-parallel kernel: values are processed in blocks of 64, so each block
    packs into exactly ``width`` uint64 words and the bit-offset pattern is
    identical across blocks — the inner loops run ~64+width vectorized ops
    over n/64-length arrays (≈1.5 ops/value) instead of building an n×width
    bit matrix. Those ~64+width calls cost the same at any n, so inputs of
    at most ``_PACKBITS_MAX_BITS`` bits build the bit matrix instead and
    pack it in one ``np.packbits`` call: the same bytes.
    """
    n = len(values)
    if width == 0 or n == 0:
        return b""
    # byte-aligned widths: a single cast IS the packing (bulk of real data:
    # full-vocab token streams are width 16, byte-range deltas width 8)
    if width == 8:
        return values.astype(np.uint8).tobytes()
    if width == 16:
        return values.astype(np.uint16).tobytes()
    if width == 32:
        return values.astype(np.uint32, copy=False).tobytes()
    if n * width <= _PACKBITS_MAX_BITS:
        shifts = np.arange(width, dtype=np.uint64)
        bits = (values.astype(np.uint64, copy=False)[:, None] >> shifts) & np.uint64(1)
        return np.packbits(bits.astype(np.uint8).ravel(), bitorder="little").tobytes()
    n_blocks = (n + 63) // 64
    v = np.zeros(n_blocks * 64, dtype=np.uint64)
    v[:n] = values.astype(np.uint64, copy=False)
    vblk = v.reshape(n_blocks, 64)
    bitpos = np.arange(64) * width
    word = bitpos >> 6
    off = (bitpos & 63).astype(np.uint64)
    out = np.zeros((n_blocks, width), dtype=np.uint64)
    for j in range(width):
        acc = out[:, j]
        for i in np.flatnonzero(word == j):
            acc |= vblk[:, i] << off[i]
        for i in np.flatnonzero((word == j - 1) & (off.astype(np.int64) + width > 64)):
            acc |= vblk[:, i] >> np.uint64(64 - int(off[i]))
    n_bytes = (n * width + 7) // 8
    return out.tobytes()[:n_bytes]


def unpack_bits(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of pack_bits → uint32 array of length n. Like pack_bits,
    an input of at most ``_UNPACKBITS_MAX_BITS`` bits goes through the
    n×width bit matrix (one ``np.unpackbits``, then one product with the
    bit weights) instead of the 64-step word loop."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint32)
    if width == 8:
        return np.frombuffer(buf, dtype=np.uint8, count=n).astype(np.uint32)
    if width == 16:
        return np.frombuffer(buf, dtype=np.uint16, count=n).astype(np.uint32)
    if width == 32:
        return np.frombuffer(buf, dtype=np.uint32, count=n).copy()
    if n * width <= _UNPACKBITS_MAX_BITS:
        bits = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8), count=n * width, bitorder="little"
        ).reshape(n, width)
        return bits.astype(np.uint32) @ (np.uint32(1) << np.arange(width, dtype=np.uint32))
    n_blocks = (n + 63) // 64
    raw = np.zeros(n_blocks * width * 8, dtype=np.uint8)
    raw[: len(buf)] = np.frombuffer(buf, dtype=np.uint8)
    words = raw.view(np.uint64).reshape(n_blocks, width)
    bitpos = np.arange(64) * width
    word = bitpos >> 6
    off = bitpos & 63
    mask = np.uint64((1 << width) - 1)
    out = np.empty((n_blocks, 64), dtype=np.uint64)
    for i in range(64):
        vals = words[:, word[i]] >> np.uint64(off[i])
        if off[i] + width > 64:
            vals = vals | (words[:, word[i] + 1] << np.uint64(64 - off[i]))
        out[:, i] = vals & mask
    return out.ravel()[:n].astype(np.uint32)


# ------------------------------------------------------------------ run utils


def run_split(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) — vectorized RLE boundary detection."""
    n = len(a)
    if n == 0:
        return a[:0], np.zeros(0, dtype=np.int64)
    boundaries = np.flatnonzero(a[1:] != a[:-1])
    starts = np.concatenate(([0], boundaries + 1))
    lengths = np.diff(np.concatenate((starts, [n])))
    return a[starts], lengths


# ------------------------------------------------------------------- encoders


def _enc_plain(a: np.ndarray) -> bytes:
    return bytes([PLAIN]) + _U32.pack(len(a)) + a.astype("<i4", copy=False).tobytes()


_PLANE_FLAG = 0x80  # set on the width byte: packed bytes are plane-transposed
_GROUP_FLAG = 0x40  # 16-bit only: lo plane stored grouped by hi-byte value
_PLANE_MIN_N = 256


def _transpose_planes(packed: bytes, n: int, cell: int) -> bytes:
    """Byte-plane split for byte-aligned cells: all low bytes, then the next
    plane, … — zstd's entropy stage then models each plane separately, and
    the high planes of Zipfian data are nearly constant (measured 12%
    smaller than interleaved at the same zstd level)."""
    m = np.frombuffer(packed, dtype=np.uint8, count=n * cell).reshape(n, cell)
    return np.ascontiguousarray(m.T).tobytes()


def _untranspose_planes(buf: bytes, n: int, cell: int) -> bytes:
    m = np.frombuffer(buf, dtype=np.uint8, count=n * cell).reshape(cell, n)
    return np.ascontiguousarray(m.T).tobytes()


def _enc_for(a: np.ndarray, codec_id: int = FOR) -> bytes:
    """Frame-of-reference: store min as int64 ref, bit-pack deltas.

    BITPACK is the ref=0 special case (only valid when min >= 0).
    Deltas are computed in uint32 wraparound arithmetic (span always fits
    32 bits for int32 input) — no int64 round-trip, half the memory traffic.
    Byte-aligned widths (16/32) store plane-transposed bytes (flag bit on
    the width byte) for a better downstream zstd ratio.
    """
    n = len(a)
    if n == 0:
        return bytes([codec_id]) + _U32.pack(0) + _I64.pack(0) + b"\x00"
    a = np.ascontiguousarray(a, dtype=np.int32)
    lo, hi = int(a.min()), int(a.max())
    ref = 0 if codec_id == BITPACK else lo
    width = _bit_width(hi - ref)
    deltas = a.view(np.uint32) - np.uint32(ref & 0xFFFFFFFF)  # exact mod 2^32
    packed = pack_bits(deltas, width)
    width_byte = width
    if width == 16 and n >= _PLANE_MIN_N:
        # Two candidate layouts for zstd, picked by a cheap level-1 trial:
        #  * plane split (lo bytes, then hi bytes) — wins on positionally
        #    correlated data (runs, sorted streams);
        #  * hi-GROUPED lo plane: lo bytes stably sorted by their hi byte,
        #    then the hi plane — zstd's entropy stage then models the lo
        #    distribution *conditioned* on the hi byte. On Zipfian token
        #    ids this recovers H(lo|hi) < H(lo): measured 4.7% smaller at
        #    zstd 19. Decode rebuilds the permutation from the hi plane
        #    alone (stable argsort is deterministic), so it costs 0 bytes.
        lo = (deltas & 0xFF).astype(np.uint8)
        hi = (deltas >> np.uint32(8)).astype(np.uint8)
        planes = lo.tobytes() + hi.tobytes()
        grouped = lo[np.argsort(hi, kind="stable")].tobytes() + hi.tobytes()
        trial = _zstd(1)
        if len(trial.compress(grouped, asbytes=True)) < len(
            trial.compress(planes, asbytes=True)
        ):
            packed, width_byte = grouped, width | _GROUP_FLAG
        else:
            packed, width_byte = planes, width | _PLANE_FLAG
    elif width == 32 and n >= _PLANE_MIN_N:
        packed = _transpose_planes(packed, n, width // 8)
        width_byte = width | _PLANE_FLAG
    return (
        bytes([codec_id]) + _U32.pack(n) + _I64.pack(ref) + bytes([width_byte]) + packed
    )


def children(*blobs: bytes) -> bytes:
    """``u32 len || blob`` per blob — the inverse of ``read_children``."""
    return b"".join(_U32.pack(len(b)) + b for b in blobs)


def _enc_rle(a: np.ndarray) -> bytes:
    vals, lens = run_split(a)
    val_blob, _ = encode_ints_auto(vals.astype(np.int32), delta=False, rle=False)
    len_blob = _enc_for(lens.astype(np.int32), BITPACK)
    return bytes([RLE]) + _U32.pack(len(a)) + children(val_blob, len_blob)


def _wrap_deltas(a: np.ndarray) -> np.ndarray:
    """Successive differences in uint32 wraparound arithmetic (d[0] = a[0]);
    exactly invertible by a wraparound cumsum for any int32 input."""
    u = np.ascontiguousarray(a, dtype=np.int32).view(np.uint32)
    d = np.empty(len(a), dtype=np.uint32)
    if len(a):
        d[0] = u[0]
        np.subtract(u[1:], u[:-1], out=d[1:])
    return d.view(np.int32)


def _enc_delta(a: np.ndarray) -> bytes:
    """Delta: sorted / slowly-varying streams (timestamps, monotone ids)
    become tiny-span deltas that FOR bit-packs in a few bits, and
    constant-step streams become constant deltas that RLE collapses. The
    delta stream rides the same auto-selected child machinery as every
    other composite codec (one level — no delta-of-delta)."""
    child, _ = encode_ints_auto(_wrap_deltas(a), delta=False)
    return bytes([DELTA]) + _U32.pack(len(a)) + child


def _enc_dict(a: np.ndarray) -> bytes:
    uniq, codes = np.unique(a, return_inverse=True)
    dict_blob = _enc_for(uniq.astype(np.int32))
    code_blob = _enc_for(codes.astype(np.int32), BITPACK)
    return bytes([DICT]) + _U32.pack(len(a)) + children(dict_blob, code_blob)


def encode_ints(a: np.ndarray, codec_id: int) -> bytes:
    """Encode an int32 array with a specific codec."""
    a = np.ascontiguousarray(a, dtype=np.int32)
    if codec_id == PLAIN:
        return _enc_plain(a)
    if codec_id in (FOR, BITPACK):
        if codec_id == BITPACK and len(a) and int(a.min()) < 0:
            codec_id = FOR  # bitpack can't express negatives; promote
        return _enc_for(a, codec_id)
    if codec_id == RLE:
        return _enc_rle(a)
    if codec_id == DICT:
        return _enc_dict(a)
    if codec_id == DELTA:
        return _enc_delta(a)
    raise ValueError(f"unknown codec id {codec_id}")


# ------------------------------------------------------------------- decoders


def read_children(body, pos: int, k: int) -> list[bytes]:
    """The ``k`` children that start at ``pos`` and must fill ``body``
    exactly; a short or overlong body raises ValueError."""
    out = []
    for _ in range(k):
        if pos + 4 > len(body):
            break
        (ln,) = _U32.unpack_from(body, pos)
        out.append(bytes(body[pos + 4 : pos + 4 + ln]))
        pos += 4 + ln
    if len(out) != k or pos != len(body):
        raise ValueError(f"truncated or malformed blob: children end at {pos} of {len(body)}")
    return out


def _expect_len(n: int, want: int) -> None:
    if n != want:
        raise ValueError(f"truncated or malformed int blob: {want} values declared, {n} decoded")


def decode_ints(blob: bytes) -> np.ndarray:
    """Decode any blob (recursively) back to an int32 array. Bit-identical;
    a truncated or malformed blob raises ValueError."""
    try:
        return _decode_ints(blob)
    except struct.error as e:
        raise ValueError(f"truncated int blob: {e}") from None


_FOR_HDR = struct.Struct("<IqB")  # n | ref | width byte (layout flags on top)


def _for_parts(body) -> tuple[int, int, int, int, bytes]:
    """(n, ref, width byte, bit width, packed bytes) of a FOR/BITPACK
    body; a packed payload of the wrong size raises ValueError."""
    n, ref, width = _FOR_HDR.unpack_from(body, 0)
    raw = bytes(body[_FOR_HDR.size :])
    bits = width & ~(_GROUP_FLAG | _PLANE_FLAG)
    if bits > 32 or len(raw) != (n * bits + 7) // 8:
        raise ValueError(
            f"truncated or malformed FOR blob: {len(raw)} packed bytes for "
            f"{n} values of width {bits}"
        )
    return n, ref, width, bits, raw


def _rle_parts(body) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, run values, run lengths as int64) of an RLE body; runs that
    do not add up to n values raise ValueError."""
    (n,) = _U32.unpack_from(body, 0)
    val_blob, len_blob = read_children(body, 4, 2)
    vals, lens = _decode_ints(val_blob), _decode_ints(len_blob).astype(np.int64)
    if len(vals) != len(lens) or (lens < 0).any():
        raise ValueError("malformed RLE blob: run values and lengths differ")
    _expect_len(int(lens.sum()), n)
    return n, vals, lens


def _dict_parts(body) -> tuple[int, np.ndarray, bytes]:
    """(n, dictionary values, codes blob) of a DICT body; a codes blob
    that does not declare n values raises ValueError."""
    (n,) = _U32.unpack_from(body, 0)
    dict_blob, code_blob = read_children(body, 4, 2)
    _expect_len(count_ints(code_blob), n)
    return n, _decode_ints(dict_blob), code_blob


def _decode_ints(blob: bytes) -> np.ndarray:
    if not blob:
        raise ValueError("empty int blob")
    codec_id = blob[0]
    if codec_id == ZSTD:
        return _decode_ints(unwrap_zstd(blob))
    body = memoryview(blob)[1:]
    if codec_id == PLAIN:
        (n,) = _U32.unpack_from(body, 0)
        if len(body) != 4 + 4 * n:
            raise ValueError(f"truncated PLAIN blob: {len(body) - 4} bytes for {n} values")
        return np.frombuffer(body, dtype="<i4", count=n, offset=4).astype(np.int32)
    if codec_id in (FOR, BITPACK):
        n, ref, width, bits, raw = _for_parts(body)
        if width & _GROUP_FLAG:
            lo_grouped = np.frombuffer(raw, dtype=np.uint8, count=n)
            hi = np.frombuffer(raw, dtype=np.uint8, count=n, offset=n)
            lo = np.empty(n, dtype=np.uint8)
            lo[np.argsort(hi, kind="stable")] = lo_grouped
            deltas = lo.astype(np.uint32) | (hi.astype(np.uint32) << np.uint32(8))
        else:
            if width & _PLANE_FLAG:
                raw = _untranspose_planes(raw, n, bits // 8)
            deltas = unpack_bits(raw, n, bits)
        # uint32 wraparound add — exact inverse of the encode-side subtract
        return (deltas + np.uint32(ref & 0xFFFFFFFF)).view(np.int32)
    if codec_id == RLE:
        _, vals, lens = _rle_parts(body)
        return np.repeat(vals, lens)
    if codec_id == DICT:
        _, uniq, code_blob = _dict_parts(body)
        return uniq[_decode_ints(code_blob)]
    if codec_id == DELTA:
        (n,) = _U32.unpack_from(body, 0)
        d = _decode_ints(bytes(body[4:]))
        _expect_len(len(d), n)
        # wraparound cumsum: uint64 accumulate then truncate — exact inverse
        # (n·2^32 < 2^64 for any realistic chunk)
        return (np.cumsum(d.view(np.uint32), dtype=np.uint64) & 0xFFFFFFFF).astype(
            np.uint32
        ).view(np.int32)
    raise ValueError(f"unknown codec id {codec_id}")


# -------------------------------------------------------------- random access
#
# take_ints and find_ints answer ``decode_ints(blob)[positions]`` and
# ``flatnonzero(isin(decode_ints(blob), values))`` while decoding only
# what the answer needs: FOR/BITPACK read just the asked cells in every
# layout, and drop target values outside their frame before touching the
# payload; RLE searches its run ends; DICT goes through its codes. DELTA
# has no random access (a value is the sum of all before it), so it, like
# any codec without a path here, decodes in full. The checks are the ones
# decode_ints makes: a truncated or malformed blob raises ValueError.


def count_ints(blob: bytes) -> int:
    """The number of values an int blob declares in its header."""
    if not blob:
        raise ValueError("empty int blob")
    if blob[0] == ZSTD:
        blob = unwrap_zstd(blob)
    if blob[0] not in CODEC_NAMES or len(blob) < 5:
        raise ValueError(f"truncated or unknown int blob (id {blob[0]})")
    return _U32.unpack_from(blob, 1)[0]


def concat_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``concatenate([arange(s, s + l) for s, l in zip(starts, lens)])``
    as int64, in one repeat."""
    lens = np.asarray(lens, dtype=np.int64)
    firsts = np.cumsum(lens) - lens
    return np.repeat(np.asarray(starts, dtype=np.int64) - firsts, lens) + np.arange(
        int(lens.sum()), dtype=np.int64
    )


def _check_positions(p: np.ndarray, n: int) -> None:
    if len(p) and (int(p.min()) < 0 or int(p.max()) >= n):
        raise IndexError(f"positions outside the blob's {n} values")


def _grouped_places(hi: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Where positions ``p`` sit in a hi-grouped lo plane: the start of
    their hi byte's group plus their rank among the earlier positions of
    that hi byte. Both come from per-hi-byte prefix counts — one
    ``np.bincount`` over the plane, labelled by the runs of consecutive
    asked positions — plus ranks among the asked positions themselves.
    An ask of more than 1/8 of the plane, or with more runs than the
    plane has values per hi byte, inverts the whole grouping instead, as
    the full decode does: on a 140k-value plane the counts take 0.7 ms
    for a few runs and 1.2 ms at 1/9 of it, the inversion 1.4 ms."""
    if not len(p):
        return p
    u, inv = (p, None) if (np.diff(p) > 0).all() else np.unique(p, return_inverse=True)
    brk = np.flatnonzero(np.diff(u) != 1) + 1
    first = u[np.concatenate(([0], brk))]  # the first position of each run
    n_runs = len(first)
    if max(len(u) * 8, n_runs * 256) > len(hi):
        place = np.empty(len(hi), dtype=np.int64)
        place[np.argsort(hi, kind="stable")] = np.arange(len(hi))
        return place[p]
    # label r counts [first[r-1], first[r]); the last label the tail
    label = np.repeat(np.arange(n_runs + 1, dtype=np.int64) * 256,
                      np.diff(first, prepend=0, append=len(hi)))
    label += hi
    before = np.cumsum(np.bincount(label, minlength=(n_runs + 1) * 256).reshape(-1, 256), axis=0)
    start = np.cumsum(before[-1]) - before[-1]  # before[r]: counts in hi[:first[r]]
    run = np.repeat(np.arange(n_runs), np.diff(brk, prepend=0, append=len(u)))
    h = hi[u].astype(np.int64)
    key = run * 256 + h
    order = np.argsort(key, kind="stable")
    new = np.flatnonzero(np.diff(key[order], prepend=-1))
    rank = np.empty(len(u), dtype=np.int64)
    rank[order] = np.arange(len(u)) - np.repeat(new, np.diff(new, append=len(u)))
    place = start[h] + before[run, h] + rank
    return place if inv is None else place[inv]


def _take_cells(raw: bytes, n: int, width: int, bits: int, p: np.ndarray) -> np.ndarray:
    """The uint32 cells at positions ``p`` of a FOR payload of ``n``
    ``bits``-wide cells stored in layout ``width`` (the width byte)."""
    if bits == 0:
        return np.zeros(len(p), dtype=np.uint32)
    u8 = np.frombuffer(raw, dtype=np.uint8)
    if width & _GROUP_FLAG:
        hi = u8[n : 2 * n]
        return u8[_grouped_places(hi, p)].astype(np.uint32) | (hi[p].astype(np.uint32) << 8)
    if width & _PLANE_FLAG:
        out = np.zeros(len(p), dtype=np.uint32)
        for j in range(bits // 8):
            out |= u8[j * n + p].astype(np.uint32) << np.uint32(8 * j)
        return out
    if bits in (8, 16, 32):
        return np.frombuffer(raw, dtype=f"<u{bits // 8}", count=n)[p].astype(np.uint32)
    # any other width: the 8 bytes from a cell's first byte hold all of it
    # (bits ≤ 32 plus a shift ≤ 7); reads past the end repeat the last
    # byte, which lands above the cell and is masked off
    bitpos = p * bits
    idx = np.minimum((bitpos >> 3)[:, None] + np.arange(8), len(u8) - 1)
    words = u8[idx].view("<u8")[:, 0]
    mask = np.uint64((1 << bits) - 1)
    return ((words >> (bitpos & 7).astype(np.uint64)) & mask).astype(np.uint32)


def take_ints(blob: bytes, positions) -> np.ndarray:
    """``decode_ints(blob)[positions]`` (int32), decoding only the asked
    values where the codec allows random access. A position outside the
    blob's values raises IndexError; a truncated or malformed blob raises
    ValueError."""
    try:
        return _take_ints(blob, np.asarray(positions, dtype=np.int64))
    except struct.error as e:
        raise ValueError(f"truncated int blob: {e}") from None


def _take_ints(blob: bytes, p: np.ndarray) -> np.ndarray:
    if not blob:
        raise ValueError("empty int blob")
    codec_id = blob[0]
    if codec_id == ZSTD:
        return _take_ints(unwrap_zstd(blob), p)
    body = memoryview(blob)[1:]
    if codec_id == PLAIN:
        (n,) = _U32.unpack_from(body, 0)
        if len(body) != 4 + 4 * n:
            raise ValueError(f"truncated PLAIN blob: {len(body) - 4} bytes for {n} values")
        _check_positions(p, n)
        return np.frombuffer(body, dtype="<i4", count=n, offset=4)[p].astype(np.int32)
    if codec_id in (FOR, BITPACK):
        n, ref, width, bits, raw = _for_parts(body)
        _check_positions(p, n)
        return (_take_cells(raw, n, width, bits, p) + np.uint32(ref & 0xFFFFFFFF)).view(np.int32)
    if codec_id == RLE:
        n, vals, lens = _rle_parts(body)
        _check_positions(p, n)
        return vals[np.searchsorted(np.cumsum(lens), p, side="right")]
    if codec_id == DICT:
        n, uniq, code_blob = _dict_parts(body)
        _check_positions(p, n)
        return uniq[_take_ints(code_blob, p)]
    out = _decode_ints(blob)
    _check_positions(p, len(out))
    return out[p]


def find_ints(blob: bytes, values) -> np.ndarray:
    """``np.flatnonzero(np.isin(decode_ints(blob), values))``: the
    ascending int64 positions of the blob's values that are in
    ``values``, decoding only what the codec needs to find them. A
    truncated or malformed blob raises ValueError."""
    v = np.unique(np.asarray(values, dtype=np.int64))
    v = v[(v >= -(1 << 31)) & (v < 1 << 31)].astype(np.int32)  # only int32s occur
    try:
        return _find_ints(blob, v)
    except struct.error as e:
        raise ValueError(f"truncated int blob: {e}") from None


def _grouped_find(u8: np.ndarray, n: int, d: np.ndarray) -> np.ndarray:
    """Positions of the cells ``d`` (sorted uint32 < 2^16) in a
    hi-grouped plane of ``n`` cells: per target hi byte, the matches in
    its group of the lo plane (which starts after every smaller hi byte),
    mapped back through that hi byte's positions in the hi plane."""
    lo, hi = u8[:n], u8[n : 2 * n]
    found = []
    for h in np.unique(d >> 8):
        at = np.flatnonzero(hi == h)
        start = np.count_nonzero(hi < h)
        group = lo[start : start + len(at)]
        rank = np.flatnonzero(np.isin(group, (d[(d >> 8) == h] & 0xFF).astype(np.uint8)))
        if len(rank):
            found.append(at[rank])
    return np.sort(np.concatenate(found)) if found else np.zeros(0, dtype=np.int64)


def _find_ints(blob: bytes, v: np.ndarray) -> np.ndarray:
    if not blob:
        raise ValueError("empty int blob")
    codec_id = blob[0]
    if codec_id == ZSTD:
        return _find_ints(unwrap_zstd(blob), v)
    body = memoryview(blob)[1:]
    if codec_id in (FOR, BITPACK):
        n, ref, width, bits, raw = _for_parts(body)
        d = v.view(np.uint32) - np.uint32(ref & 0xFFFFFFFF)  # the targets' cells
        d = np.unique(d[d.astype(np.int64) < (1 << bits)])  # the frame holds no others
        if not len(d) or not n:
            return np.zeros(0, dtype=np.int64)
        if width & _GROUP_FLAG:
            return _grouped_find(np.frombuffer(raw, dtype=np.uint8), n, d)
        if width & _PLANE_FLAG:
            raw = _untranspose_planes(raw, n, bits // 8)
        return np.flatnonzero(np.isin(unpack_bits(raw, n, bits), d))
    if codec_id == RLE:
        _, vals, lens = _rle_parts(body)
        hit = np.isin(vals, v)
        return concat_ranges((np.cumsum(lens) - lens)[hit], lens[hit])
    if codec_id == DICT:
        _, uniq, code_blob = _dict_parts(body)
        codes = np.flatnonzero(np.isin(uniq, v))
        if not len(codes):
            return np.zeros(0, dtype=np.int64)
        return _find_ints(code_blob, codes.astype(np.int32))
    return np.flatnonzero(np.isin(_decode_ints(blob), v))


# ----------------------------------------------------------------- statistics


_DISTINCT_SAMPLE = 262_144


def int_stats(a: np.ndarray, with_delta: bool = False) -> dict:
    """Chunk statistics driving codec selection (north rule: cardinality /
    run-length / value-range). min/max/runs are exact single passes;
    distinct count switches to a deterministic stride sample above 256k
    values (a full np.unique is an O(n log n) sort — the bandwidth hog of
    the whole encoder). The sampled d only shifts the DICT size estimate
    by a fraction of a bit of code width, and the choice stays
    deterministic for resume."""
    n = len(a)
    if n == 0:
        out = {"n": 0, "min": 0, "max": 0, "n_distinct": 0, "n_runs": 0}
        if with_delta:
            out["delta"] = dict(out)
        return out
    n_runs = 1 + int(np.count_nonzero(a[1:] != a[:-1]))
    if n <= _DISTINCT_SAMPLE:
        n_distinct = len(np.unique(a))
    else:
        stride = n // _DISTINCT_SAMPLE + 1
        d_s = len(np.unique(a[::stride]))
        # scale toward n conservatively: distinct can't exceed n or be below d_s
        n_distinct = min(n, max(d_s, int(d_s * (n / (n // stride + 1)) ** 0.5)))
    out = {
        "n": n,
        "min": int(a.min()),
        "max": int(a.max()),
        "n_distinct": n_distinct,
        "n_runs": n_runs,
    }
    if with_delta:
        # stats of the delta stream drive the DELTA estimate; one level only
        out["delta"] = int_stats(_wrap_deltas(a))
    return out


def estimate_sizes(stats: dict) -> dict[int, int]:
    """Exact encoded byte size per codec for this blob format.

    Exactness matters: the selector's argmin is then provably optimal within
    the codec family, mirroring how the reference's streaming_selector picks
    a mode from measured thresholds (/root/reference/src/streaming_selector.py:12-138).
    """
    n, lo, hi = stats["n"], stats["min"], stats["max"]
    d, r = stats["n_distinct"], stats["n_runs"]
    hdr_for = 1 + 4 + 8 + 1  # id + n + ref + width

    def for_size(count: int, span: int) -> int:
        w = _bit_width(span)
        return hdr_for + (count * w + 7) // 8

    span = hi - lo
    sizes = {
        PLAIN: 1 + 4 + 4 * n,
        FOR: for_size(n, span),
        # RLE: header(1+4) + 2 child length prefixes + FOR(run values) + BITPACK(run lengths)
        # run lengths ≤ n; value child is FOR in the common case.
        RLE: 1 + 4 + 8 + for_size(r, span) + for_size(r, n),
        # DICT: header + prefixes + FOR(dict values, d entries) + BITPACK(codes, width log2 d)
        DICT: 1 + 4 + 8 + for_size(d, span) + hdr_for + (n * _bit_width(max(d - 1, 0)) + 7) // 8,
    }
    # BITPACK packs [0, max] (ref fixed at 0), not [min, max]
    sizes[BITPACK] = for_size(n, hi) if lo >= 0 else sizes[PLAIN]
    if "delta" in stats:
        # DELTA = header + best child over the delta stream (same argmin the
        # encoder takes, so the estimate stays exact)
        child = estimate_sizes(stats["delta"])
        sizes[DELTA] = 1 + 4 + min(child.values())
    return sizes


def encode_ints_auto(
    a: np.ndarray, delta: bool = True, rle: bool = True
) -> tuple[bytes, int]:
    """(blob, codec_id) with the estimate-optimal codec. Child streams pass
    ``delta=False`` (no delta-of-delta) and RLE's values ``rle=False``."""
    sizes = estimate_sizes(int_stats(a, with_delta=delta))
    if not rle:
        sizes.pop(RLE)
    best = min(sizes, key=sizes.get)
    return encode_ints(a, best), best


# ------------------------------------------------------------- zstd post-pass


def raw_blob(data) -> bytes:
    """Uninterpreted bytes as a registered (``RAW``) blob."""
    return bytes([RAW]) + bytes(data)


def decode_raw(blob: bytes) -> bytes:
    """The bytes inside a ``RAW`` blob, zstd-wrapped or not."""
    inner = unwrap_zstd(blob)
    if inner[0] != RAW:
        raise ValueError(f"expected a raw blob, got id {inner[0]}")
    return inner[1:]


def wrap_zstd(blob: bytes, level: int = 3) -> bytes:
    """Transparent block compression over a registered blob — the same
    cascade Parquet applies (zstd over dict/RLE pages), kept as an explicit
    outer wrapper. An incompressible blob is returned as is; its first byte
    is a registered id other than ``ZSTD``, so it cannot pass for a frame.

    ``level`` is the effort knob: 3 = throughput mode, 15 = archive mode
    (~13× more CPU per byte, slightly better ratio). Archive mode is the
    storage-bound 100 TB setting — and being CPU-bound, it scales linearly
    with executors where the fast mode hits the memory-bandwidth ceiling.
    """
    if not blob or blob[0] not in BLOB_IDS or blob[0] == ZSTD:
        first = blob[0] if blob else None
        raise ValueError(f"wrap_zstd needs a registered non-zstd blob, got first byte {first}")
    comp = _zstd(level).compress(blob, asbytes=True)
    if len(comp) + 5 >= len(blob) + 1:
        return blob  # incompressible: keep inner blob (id != ZSTD marks it)
    return bytes([ZSTD]) + _U32.pack(len(blob)) + comp


def unwrap_zstd(blob: bytes) -> bytes:
    """The registered blob inside a zstd frame (any other registered blob
    passes through). An unregistered id, a truncated frame or a frame that
    does not hold a registered blob raises ValueError."""
    if not blob or blob[0] not in BLOB_IDS:
        first = blob[0] if blob else None
        raise ValueError(f"not a registered blob (first byte {first}); re-encode the data")
    if blob[0] != ZSTD:
        return blob
    if len(blob) < 5:
        raise ValueError("truncated zstd frame")
    (raw_len,) = _U32.unpack_from(blob, 1)
    try:
        inner = _zstd(3).decompress(bytes(memoryview(blob)[5:]), raw_len, asbytes=True)
    except OSError as e:
        raise ValueError(f"truncated or corrupt zstd frame: {e}") from None
    if len(inner) != raw_len or not inner or inner[0] not in BLOB_IDS or inner[0] == ZSTD:
        raise ValueError("zstd frame does not hold a registered blob")
    return inner
