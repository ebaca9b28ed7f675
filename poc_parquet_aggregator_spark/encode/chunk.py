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
    unwrap_zstd,
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


class TokenChunk:
    """A token chunk's streams, parsed on first use: each child blob is
    unwrapped from zstd at most once, and the per-doc streams (lengths,
    groups, frames) are decoded at most once, so the row tests and the
    output columns of one chunk row share them. Every decode entry point
    below takes a chunk blob or one of these. A truncated chunk, or
    streams that disagree with its ``n_docs``, raise ValueError."""

    def __init__(self, blob: bytes):
        if len(blob) < 10 or blob[0] != TOK:
            raise ValueError("not a token chunk, or a truncated one")
        mv = memoryview(blob)
        (self.n_docs,) = _U32.unpack_from(mv, 1)
        self.n_groups = mv[5]
        self._blobs = read_children(mv, 6, 3 + self.n_groups)
        self._unwrapped: set[int] = set()
        self._lengths = self._layout = None

    def blob(self, i: int) -> bytes:
        """Child stream ``i`` (lengths, groups, refs, then the value
        streams), unwrapped from zstd."""
        if i not in self._unwrapped:
            self._blobs[i] = unwrap_zstd(self._blobs[i])
            self._unwrapped.add(i)
        return self._blobs[i]

    @property
    def lengths(self) -> np.ndarray:
        """Per-doc token counts (int32), from the lengths stream alone."""
        if self._lengths is None:
            self._lengths = decode_ints(self.blob(0))
            if len(self._lengths) != self.n_docs:
                raise ValueError(f"malformed token chunk: streams disagree with {self.n_docs} docs")
        return self._lengths

    def layout(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
        """(lengths, groups, each doc's first position in its group's
        value stream, each group's token count, per-doc frames or None
        when every frame is 0), decoded once."""
        if self._layout is None:
            lengths, groups = self.lengths, decode_ints(self.blob(1))
            if len(groups) != self.n_docs:
                raise ValueError(f"malformed token chunk: streams disagree with {self.n_docs} docs")
            if len(groups) and (groups.min() < 0 or groups.max() >= self.n_groups):
                raise ValueError("malformed token chunk: group id out of range")
            L = lengths.astype(np.int64)
            starts = np.zeros(self.n_docs, dtype=np.int64)
            totals = np.zeros(self.n_groups, dtype=np.int64)
            for g in range(self.n_groups):
                m = groups == g
                ends = np.cumsum(L[m])
                starts[m] = ends - L[m]
                totals[g] = ends[-1] if len(ends) else 0
            refs = decode_ints(self.blob(2))
            small = groups == GROUP_SMALL
            if len(refs) != np.count_nonzero(small):
                raise ValueError("malformed token chunk: refs disagree with its SMALL docs")
            frames = None
            if refs.any():
                frames = np.zeros(self.n_docs, dtype=np.int32)
                frames[small] = refs
            self._layout = (lengths, groups, starts, totals, frames)
        return self._layout

    def values(self, g: int) -> bytes:
        """Value stream ``g``, unwrapped; one that does not hold its
        group's tokens raises ValueError."""
        blob = self.blob(3 + g)
        if CI.count_ints(blob) != self.layout()[3][g]:
            raise ValueError(
                f"malformed token chunk: value stream {g} does not hold its docs' tokens"
            )
        return blob


def _parsed(chunk) -> TokenChunk:
    return chunk if isinstance(chunk, TokenChunk) else TokenChunk(chunk)


def decode_chunk_lengths(chunk) -> np.ndarray:
    """Parse ONLY the per-doc lengths stream of a token chunk — n_tok
    without touching the (much larger) value streams."""
    return _parsed(chunk).lengths


def _tokens(c: TokenChunk, rows: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """(flat tokens, lengths) of docs ``rows`` (None: every doc). Each
    group's values for those docs are read from its stream — all of it
    when ``rows`` is None, else just their positions (``take_ints``) —
    and put in doc order with one gather; SMALL docs get their frame
    added back."""
    lengths, groups, starts, _, frames = c.layout()
    if rows is not None:
        lengths, groups, starts = lengths[rows], groups[rows], starts[rows]
        frames = None if frames is None else frames[rows]
    L = lengths.astype(np.int64)
    out_start = np.cumsum(L) - L
    src, pieces, base = out_start.copy(), [], 0
    for g in range(c.n_groups):
        docs = np.flatnonzero((groups == g) & (L > 0))
        if not len(docs):
            continue
        blob = c.values(g)
        if rows is None:
            vals = decode_ints(blob)
        else:
            vals = CI.take_ints(blob, CI.concat_ranges(starts[docs], L[docs]))
        # where each doc's values start among the values read so far
        src[docs] = base + np.cumsum(L[docs]) - L[docs]
        pieces.append(vals)
        base += len(vals)
    flat = np.concatenate(pieces) if pieces else np.zeros(0, np.int32)
    if not np.array_equal(src, out_start):
        flat = flat[np.repeat(src - out_start, L) + np.arange(len(flat), dtype=np.int64)]
    if frames is not None and frames.any():
        flat = (flat.view(np.uint32) + np.repeat(frames.view(np.uint32), L)).view(np.int32)
    return flat, lengths.astype(np.int32)


def decode_token_chunk(chunk) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_token_chunk → (flat int32 values, int32 lengths).
    A truncated chunk raises ValueError."""
    return _tokens(_parsed(chunk), None)


def decode_token_rows(chunk, rows) -> tuple[np.ndarray, np.ndarray]:
    """``decode_token_chunk`` restricted to the docs ``rows`` (indices
    into the chunk, in the order they are wanted): (their flat int32
    tokens, their int32 lengths), reading only their positions of each
    value stream."""
    return _tokens(_parsed(chunk), np.asarray(rows, dtype=np.int64))


def token_docs_with_any(chunk, ids) -> np.ndarray:
    """Per-doc bool mask: does the doc hold ANY of ``ids``? Tested on
    the encoded value streams: ``find_ints`` per stream (a FOR stream
    whose frame holds none of the ids is not unpacked), its positions
    mapped to docs through the lengths. The SMALL stream stores each
    doc's tokens minus its frame, so it is decoded and its frames added
    back first."""
    c = _parsed(chunk)
    lengths, groups, _, totals, frames = c.layout()
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    hit = np.zeros(c.n_docs, dtype=bool)
    for g in np.flatnonzero(totals):
        docs = np.flatnonzero(groups == g)
        L = lengths[docs].astype(np.int64)
        blob = c.values(g)
        if frames is not None and g == GROUP_SMALL:
            tokens = decode_ints(blob).view(np.uint32) + np.repeat(frames[docs].view(np.uint32), L)
            pos = np.flatnonzero(np.isin(tokens.view(np.int32), ids))
        else:
            pos = CI.find_ints(blob, ids)
        hit[docs[np.searchsorted(np.cumsum(L), pos, side="right")]] = True
    return hit
