"""Token-chunk encoding: regime-cascaded per-column compression.

A chunk is one Arrow batch of rows (doc_id, tokens, n_tok, source). The
tokens column is flattened to (flat:int32[], lengths:int32[]) and encoded as:

  1. vectorized per-doc stats (np.{maximum,minimum,add}.reduceat — no
     per-row Python) classify each doc into a regime group:
       RUNNY   mean run length ≥ 4           → RLE wins
       SMALL   value span ≤ 255 after per-doc frame subtraction → bit-pack
       GENERAL everything else               → dict / plain (+zstd)
  2. docs of each group are concatenated into one value stream; the codec
     auto-selector (codecs.ints.encode_ints_auto) picks per stream; SMALL
     additionally subtracts the per-doc min first (per-doc
     frame-of-reference), with the refs stream itself codec-encoded.
  3. lengths and group-ids are codec-encoded int32 streams.

This is the chunk-level analog of the reference's per-feed hand-tuned
optimizations (categorical + downcast, /root/reference/src/parquet_reader.py:464-494)
generalized into a stats-driven cascade. Decode reverses exactly:
bit-identical int32 token arrays (property-tested).

Blob layout (``TOK``, an id of the registry in codecs/ints.py):
  u8 id | u32 n_docs | u8 n_groups |
  child(lengths_blob) | child(groups_blob) | child(refs_blob) |
  n_groups × child(values_blob)
where child(b) = u32 len || b.
"""

from __future__ import annotations

import struct

import numpy as np

from ..codecs import ints as CI
from ..codecs.ints import (
    TOK,
    children,
    decode_ints,
    encode_ints_auto,
    read_children,
    wrap_zstd,
)

_U32 = struct.Struct("<I")

GROUP_GENERAL, GROUP_RUNNY, GROUP_SMALL = 0, 1, 2
N_GROUPS = 3

# classification thresholds (deterministic → stable resume)
_RUNNY_MEAN_RUN = 4.0
_SMALL_SPAN = 255


def _per_doc_stats(flat: np.ndarray, lengths: np.ndarray):
    """Vectorized per-doc (min, max, n_runs); empty docs get neutral values."""
    n_docs = len(lengths)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    nonempty = lengths > 0
    mins = np.zeros(n_docs, dtype=np.int64)
    maxs = np.zeros(n_docs, dtype=np.int64)
    runs = np.zeros(n_docs, dtype=np.int64)
    if nonempty.any():
        # reduceat needs strictly valid starts; restrict to nonempty docs
        s = starts[nonempty]
        mins[nonempty] = np.minimum.reduceat(flat, s)
        maxs[nonempty] = np.maximum.reduceat(flat, s)
        # within-doc run boundaries: value changes not crossing a doc edge
        csum = np.concatenate(([0], np.cumsum(flat[1:] != flat[:-1])))
        ends = (starts + lengths)[nonempty]
        runs[nonempty] = csum[ends - 1] - csum[s] + 1
    return mins, maxs, runs


def _classify(lengths, mins, maxs, runs) -> np.ndarray:
    n = lengths.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean_run = np.where(runs > 0, n / np.maximum(runs, 1), 0.0)
    span = maxs - mins
    groups = np.full(len(lengths), GROUP_GENERAL, dtype=np.int32)
    groups[span <= _SMALL_SPAN] = GROUP_SMALL
    groups[mean_run >= _RUNNY_MEAN_RUN] = GROUP_RUNNY  # runny beats small
    groups[lengths == 0] = GROUP_GENERAL
    return groups


def encode_token_chunk(
    flat: np.ndarray, lengths: np.ndarray, zstd: bool = True, zstd_level: int = 3
) -> tuple[bytes, dict]:
    """Encode one chunk → (blob, meta). meta records per-stream codec choices
    for the lineage manifest."""
    flat = np.ascontiguousarray(flat, dtype=np.int32)
    lengths = np.ascontiguousarray(lengths, dtype=np.int32)
    n_docs = len(lengths)
    mins, maxs, runs = _per_doc_stats(flat, lengths)
    groups = _classify(lengths, mins, maxs, runs)

    meta: dict = {"n_docs": n_docs, "n_tokens": int(len(flat)), "streams": {}}

    def stream(name: str, a: np.ndarray) -> bytes:
        blob, codec = encode_ints_auto(a)
        meta["streams"][name] = CI.CODEC_NAMES[codec]
        return wrap_zstd(blob, zstd_level) if zstd else blob

    len_blob, grp_blob = stream("lengths", lengths), stream("groups", groups)

    present = np.unique(groups[lengths > 0]) if n_docs else groups[:0]
    has_small = GROUP_SMALL in present
    # value → doc map: only a frame subtraction or a group gather needs it
    doc_of_value = None
    if has_small or len(present) > 1:
        doc_of_value = np.repeat(np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64))

    # per-doc frame subtraction for SMALL docs (uint32 wraparound — exact)
    refs = np.where(groups == GROUP_SMALL, mins, 0).astype(np.int32)
    shifted = flat
    if has_small:
        frame = refs[doc_of_value]
        shifted = (flat.view(np.uint32) - frame.view(np.uint32)).view(np.int32)
    refs_blob = stream("refs", refs[groups == GROUP_SMALL])

    # a homogeneous chunk skips the per-value group gather entirely
    value_group = groups[doc_of_value] if len(present) > 1 else None
    value_blobs = []
    for g in range(N_GROUPS):
        if value_group is not None:
            vals = shifted[value_group == g]
        else:
            vals = shifted if len(present) and g == present[0] else shifted[:0]
        value_blobs.append(stream(f"values_g{g}", vals))
        meta[f"n_values_g{g}"] = int(len(vals))

    out = (
        bytes([TOK])
        + _U32.pack(n_docs)
        + bytes([N_GROUPS])
        + children(len_blob, grp_blob, refs_blob, *value_blobs)
    )
    meta["bytes_out"] = len(out)
    return out, meta


def _token_body(blob: bytes) -> memoryview:
    if len(blob) < 10 or blob[0] != TOK:
        raise ValueError("not a token chunk, or a truncated one")
    return memoryview(blob)


def decode_chunk_lengths(blob: bytes) -> np.ndarray:
    """Parse ONLY the per-doc lengths stream of a token chunk — n_tok
    without touching the (much larger) value streams. This is what makes
    a lengths-only projection (read_decoded(columns=[... 'n_tok'])) skip
    ~95% of the decode work."""
    mv = _token_body(blob)
    (ln,) = _U32.unpack_from(mv, 6)
    return decode_ints(bytes(mv[10 : 10 + ln])).astype(np.int32)


def decode_token_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_token_chunk → (flat int32 values, int32 lengths).
    A truncated chunk raises ValueError."""
    mv = _token_body(blob)
    (n_docs,) = _U32.unpack_from(mv, 1)
    n_groups = mv[5]
    streams = [decode_ints(b) for b in read_children(mv, 6, 3 + n_groups)]
    lengths, groups, refs_small, value_streams = streams[0], streams[1], streams[2], streams[3:]
    if len(lengths) != n_docs or len(groups) != n_docs:
        raise ValueError(f"malformed token chunk: streams disagree with {n_docs} docs")

    total = int(lengths.astype(np.int64).sum())
    if sum(len(v) for v in value_streams) != total:
        raise ValueError(f"malformed token chunk: value streams do not hold {total} tokens")
    nonempty = [g for g in range(n_groups) if len(value_streams[g])]
    has_refs = len(refs_small) and np.any(refs_small)
    doc_of_value = None
    if len(nonempty) > 1 or has_refs:
        doc_of_value = np.repeat(np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64))

    if len(nonempty) <= 1:
        flat = value_streams[nonempty[0]].copy() if nonempty else np.zeros(0, np.int32)
    else:
        value_group = groups[doc_of_value]
        flat = np.zeros(total, dtype=np.int32)
        for g in nonempty:
            flat[value_group == g] = value_streams[g]

    if has_refs:
        refs = np.zeros(n_docs, dtype=np.int32)
        refs[groups == GROUP_SMALL] = refs_small
        frame = refs[doc_of_value]
        flat = (flat.view(np.uint32) + frame.view(np.uint32)).view(np.int32)
    return flat, lengths.astype(np.int32)
