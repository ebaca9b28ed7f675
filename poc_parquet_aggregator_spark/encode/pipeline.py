"""Spark encode/decode pipeline with per-file lineage manifest and resume.

Shape mirrors the reference's chunked streaming + incremental-write design
(/root/reference/src/streaming_processor.py:94-263,
 /root/reference/src/aggregator_ocp_aws.py:307-350) re-expressed Spark-first:

  * the "chunk" is ``_CHUNK_ROWS`` rows of one commit unit (an input
    file or a by-source bucket), cut from the unit's first row whichever
    runner feeds the kernel its Arrow batches (vectorized, no per-row
    Python — BASELINE.json input_hint): a ``mapInArrow`` job, or the
    driver itself for a job of at most ``_LOCAL_ENCODE_BYTES`` input;
  * encoded blobs are written TASK-LOCALLY with pyarrow, straight into
    fresh part files ``data/<stem>/part-<uuid>.parquet`` — they never
    cross the Arrow boundary back to the JVM (multi-MB binary cells are
    poison for the JVM parquet writer's dictionary/page machinery, and
    round-tripping them doubles memory traffic). Tasks yield only tiny
    per-part metadata rows. This is the standard object-store sink shape:
    task-local data write + driver-side commit protocol;
  * the resume unit is the INPUT FILE, and its manifest record is the one
    commit step: the driver writes the merged token filter to a fresh
    sidecar name, then atomically writes the record (input snapshot,
    per-stream codecs, checksum, bytes in/out, the ``extras`` columns it
    declares, and the ``parts`` and ``tok_filter`` files it names), then
    deletes the stem's files the record does not name. The records are
    the table's only state: reads scan exactly the files they name with
    the extra columns they declare (``plan_read``), never a directory
    listing or a second file, and an encode job raises unless every
    committed record has its layout and extras. At cluster scale the same
    protocol is an Iceberg snapshot commit (a manifest listing its data
    files and the schema they were written with).

Correctness: ``decode_verify`` decodes every partition and asserts
bit-identical token-array equality against the source via a full outer join
on doc_id (the reference's expected-results oracle discipline,
/root/reference/src/expected_results.py:309-431).
"""

from __future__ import annotations

import glob
import heapq
import json
import operator
import os
import re
import shutil
import time
import uuid
import zlib
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from functools import partial, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

from ..codecs.floats import (
    decode_floats_alp,
    decode_floats_alprd,
    encode_floats_alp,
    encode_floats_alprd,
)
from ..codecs.ints import (
    ALP,
    ALPRD,
    CODEC_NAMES,
    ZSTD,
    children,
    decode_ints,
    decode_raw,
    encode_ints_auto,
    raw_blob,
    read_children,
    unwrap_zstd,
    wrap_zstd,
)
from ..codecs.strings import (
    STR_CODEC_NAMES,
    decode_strings_arrow,
    encode_strings_arrow,
    utf8_buffers,
)
from ..plans.session import host_cores
from .chunk import (
    TokenChunk,
    decode_chunk_lengths,
    decode_token_chunk,
    decode_token_rows,
    encode_token_chunk,
    token_docs_with_any,
)
from .tokfilter import (
    build_token_filter,
    merge_token_filters,
    token_filter_bounds,
    token_filter_contains_any,
)

_META_ARROW_SCHEMA = pa.schema(
    [
        pa.field("file_stem", pa.string()),
        pa.field("part_path", pa.string()),
        pa.field("n_chunks", pa.int64()),
        pa.field("n_docs", pa.int64()),
        pa.field("n_tokens", pa.int64()),
        pa.field("bytes_in", pa.int64()),
        pa.field("bytes_out", pa.int64()),
        pa.field("checksum", pa.int64()),
        pa.field("codecs_json", pa.string()),
        pa.field("doc_id_min", pa.string()),
        pa.field("doc_id_max", pa.string()),
        pa.field("n_tok_min", pa.int64()),
        pa.field("n_tok_max", pa.int64()),
        # token VALUE bounds + membership filter (OR of the part's chunk
        # filters); the commit writes it to the sidecar its record names
        # (see encode/tokfilter.py)
        pa.field("tok_min", pa.int64()),
        pa.field("tok_max", pa.int64()),
        pa.field("tok_filter", pa.large_binary()),
    ]
)
# the part rows encode tasks yield to the driver (see fold_parts)
META_SCHEMA = from_arrow_schema(_META_ARROW_SCHEMA)

_ENC_ARROW_SCHEMA = pa.schema(
    [
        pa.field("chunk_crc", pa.int64()),
        pa.field("n_docs", pa.int64()),
        pa.field("n_tokens", pa.int64()),
        pa.field("bytes_in", pa.int64()),
        pa.field("bytes_out", pa.int64()),
        # chunk-level zone maps: the decode kernel skips a chunk whose
        # doc_id range or sequence-length range misses the read without
        # parsing its blobs. n_tok bounds serve the training-pipeline's
        # length-bucketed reads (curriculum/packing by length).
        pa.field("doc_id_min", pa.string()),
        pa.field("doc_id_max", pa.string()),
        pa.field("n_tok_min", pa.int32()),
        pa.field("n_tok_max", pa.int32()),
        # token VALUE zone + the chunk's membership filter, both tested
        # by the kernel before any blob is parsed (tokfilter.py)
        pa.field("tok_min", pa.int64()),
        pa.field("tok_max", pa.int64()),
        pa.field("tok_filter", pa.large_binary()),
        pa.field("doc_id_blob", pa.large_binary()),
        pa.field("source_blob", pa.large_binary()),
        pa.field("tokens_blob", pa.large_binary()),
        # extra metadata columns beyond the core schema: one payload per
        # column the manifest record declares, in its order (_pack_extras)
        pa.field("extras_blob", pa.large_binary()),
        pa.field("meta_json", pa.string()),
    ]
)
# every read scans part files with this declared schema: no inference, and
# a file that predates a column reads it as NULL
_ENC_SCHEMA = from_arrow_schema(_ENC_ARROW_SCHEMA)

# the largest read, in the kept records' encoded bytes (``bytes_out``),
# that ``read_decoded`` decodes in this process instead of a Spark job:
# below it a job's fixed cost outweighs the decode work. Set at the
# crossover of a full-scan sweep on 4 cores (ARCHITECTURE §4,
# scripts/runner_sweep.py): in-process wins at 3.9 MiB, Spark at 4.9 MiB.
_LOCAL_READ_BYTES = 4 << 20

# the largest encode job, in its input files' on-disk bytes, that runs
# the encode kernel in this process instead of a Spark job: below it the
# job's fixed cost outweighs the kernel work. Set below the smaller
# crossover of the two layouts in an encode sweep on 4 cores (ARCHITECTURE
# §1, scripts/runner_sweep.py encode) while units ran one after another:
# by-source ran faster in-process at 6.6 MiB and in Spark at 7.4 MiB.
# With the thread pool both crossovers lie above 46 MiB; the constant
# moves together with the serve benchmark's whole-dir probe encode.
_LOCAL_ENCODE_BYTES = 6 << 20

# rows per encoded chunk, counted from the first row of its commit unit
# (an input file, or a by-source bucket) whatever batches the unit
# arrives in: a unit's bytes do not depend on the runner, on the task
# that read it or on the units beside it, so a resume is byte-exact
_CHUNK_ROWS = 2048

# ---------------- extra metadata columns (beyond the core 4-column schema)
#
# A real sequence table carries metadata next to the tokens (language id,
# quality score, crawl timestamp, …). Any column besides the required
# (doc_id, tokens, n_tok, source) is encoded per its Spark type, which every
# manifest record declares (``extras``: [[name, spark_type], …]); the chunk
# row holds ``children(*payloads)`` in that order. Payloads: string — a
# string blob; integer — an int blob; long — children(lo, hi) of two int
# blobs (the int codecs are 32-bit, so 64-bit values split into two
# independently-coded planes); double — a RAW, ALP or ALPRD blob. Every
# blob is zstd-wrapped when smaller. Extras must be non-null, mirroring the
# input_hint's non-null schema.


def _encode_extra(arr: "pa.Array", kind: str, zstd_level: int) -> tuple[bytes, str]:
    """One extra column chunk of Spark type ``kind`` → (payload, codec
    name). Spark hands ``mapInArrow`` string, int32, int64 and float64
    arrays for the four types ``_extra_columns`` admits."""
    if arr.null_count:
        raise ValueError("extra columns must be non-null (matches the core schema)")
    if kind == "string":
        blob, codec = encode_strings_arrow(arr)
        return wrap_zstd(blob, zstd_level), STR_CODEC_NAMES[codec]
    v = arr.to_numpy(zero_copy_only=False)
    if kind == "integer":
        blob, codec = encode_ints_auto(v)
        return wrap_zstd(blob, zstd_level), CODEC_NAMES[codec]
    if kind == "long":
        lo_blob, lo_c = encode_ints_auto((v & 0xFFFFFFFF).astype(np.uint32).view(np.int32))
        hi_blob, hi_c = encode_ints_auto((v >> 32).astype(np.int32))
        payload = children(wrap_zstd(lo_blob, zstd_level), wrap_zstd(hi_blob, zstd_level))
        return payload, f"{CODEC_NAMES[lo_c]}+{CODEC_NAMES[hi_c]}"
    # double: the raw doubles (zstd-wrapped when smaller) and both ALP
    # modes (codecs/floats.py) compete on exact encoded size like every
    # other codec in the stack — decimal columns win big through the int
    # planes, high-precision columns through the front-bit dictionary, and
    # anything else falls back to the raw blob.
    raw = wrap_zstd(raw_blob(v.tobytes()), zstd_level)
    cands = [(raw, "f64_zstd" if raw[0] == ZSTD else "f64_raw")]
    for enc in (encode_floats_alp(v, zstd_level), encode_floats_alprd(v, zstd_level)):
        if enc is not None:
            cands.append(enc)
    return min(cands, key=lambda c: len(c[0]))


def _pack_extras(
    part: "pa.RecordBatch", extras: list[list[str]], zstd_level: int, meta: dict
) -> tuple[bytes, int]:
    """(container blob, raw input byte count) for the extra columns."""
    payloads, raw_bytes = [], 0
    for name, kind in extras:
        idx = part.schema.get_field_index(name)
        if idx < 0:  # column(-1) would silently return the LAST column
            raise ValueError(
                f"extra column {name!r} missing from an input batch — "
                "heterogeneous input schemas are not supported"
            )
        arr = part.column(idx)
        if kind == "string":
            raw_bytes += len(utf8_buffers(arr)[0])
        else:
            raw_bytes += (arr.type.bit_width // 8) * len(arr)
        payload, codec = _encode_extra(arr, kind, zstd_level)
        meta["streams"][f"extra:{name}"] = codec
        payloads.append(payload)
    return children(*payloads), raw_bytes


def _decode_extra(kind: str, payload: bytes) -> "pa.Array":
    """An extra column's payload, decoded by its declared Spark type."""
    if kind == "string":
        return decode_strings_arrow(payload)
    if kind == "integer":
        return pa.array(decode_ints(payload), type=pa.int32())
    if kind == "long":
        lo_blob, hi_blob = read_children(memoryview(payload), 0, 2)
        lo, hi = decode_ints(lo_blob), decode_ints(hi_blob)
        v = (hi.astype(np.int64) << 32) | (lo.view(np.uint32).astype(np.int64))
        return pa.array(v, type=pa.int64())
    blob = unwrap_zstd(payload)  # double
    if blob[0] == ALP:
        v = decode_floats_alp(blob)
    elif blob[0] == ALPRD:
        v = decode_floats_alprd(blob)
    else:
        v = np.frombuffer(decode_raw(blob), dtype=np.float64)
    return pa.array(v, type=pa.float64())


# decoded columns as Arrow types: the core schema, then the extras by their
# Spark type name; the Spark schema of a decode is derived from this list
_ARROW_OF = {
    "string": pa.string(), "integer": pa.int32(),
    "long": pa.int64(), "double": pa.float64(),
}

# decoded column → the chunk-row blob it is parsed from (every extra
# column lives in ``extras_blob``): the one table behind both the scan's
# select and what the decode kernel parses
_BLOB_OF = {"tokens": "tokens_blob", "n_tok": "tokens_blob",
            "doc_id": "doc_id_blob", "source": "source_blob"}


def _decoded_arrow_schema(
    extras: list[tuple[str, str]], columns: list[str] | None = None
) -> pa.Schema:
    """The decoded columns (core, then extras), restricted to ``columns``."""
    cols = [("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()), ("source", pa.string())]
    cols += [(n, _ARROW_OF[t]) for n, t in extras]
    return pa.schema([pa.field(n, t, nullable=False)
                      for n, t in cols if columns is None or n in columns])


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _stem_dir(stem: str) -> str:
    """``stem``'s data dir, relative to the output dir like every file
    name a record holds: the one place the layout lives. Writers give
    each file a fresh uuid name in it."""
    return os.path.join("data", stem)


def _write_part(out_dir: str, stem: str, tbl: pa.Table) -> str:
    """Write chunk rows as a fresh part file of ``stem``; returns its name.
    Blobs are already codec/zstd-compressed → plain pages, no dict."""
    name = os.path.join(_stem_dir(stem), f"part-{uuid.uuid4().hex}.parquet")
    path = os.path.join(out_dir, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="none", use_dictionary=False, write_statistics=False)
    return name


def _encode_chunk_row(
    part: pa.RecordBatch, zstd_level: int = 3, extras: list[list[str]] | None = None
) -> dict:
    """Encode one Arrow batch → its chunk row (``_ENC_ARROW_SCHEMA``
    columns plus the ``fold_parts`` keys that schema drops).

    The tokens ListArray flattens ZERO-COPY (values buffer + value_lengths);
    no per-row numpy arrays are ever materialized — this is the difference
    between an Arrow-native kernel and a pandas row loop at 100 TB."""
    tok_col = part.column(part.schema.get_field_index("tokens"))
    if tok_col.null_count:
        raise ValueError(
            "tokens column contains NULLs — the sequence-table schema is "
            "non-null (BASELINE.json input_hint); reject or repair upstream"
        )
    flat = tok_col.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    lengths = tok_col.value_lengths().to_numpy(zero_copy_only=False).astype(
        np.int32, copy=False
    )
    n_tok = part.column(part.schema.get_field_index("n_tok")).to_numpy(
        zero_copy_only=False
    )
    # invariant from input_hint: n_tok == len(tokens); enforced at encode time
    if not np.array_equal(n_tok.astype(np.int32), lengths):
        raise ValueError("n_tok invariant violated: n_tok != len(tokens)")
    tokens_blob, meta = encode_token_chunk(flat, lengths, zstd_level=zstd_level)
    # Arrow-native string encode: no per-row Python strings (object churn
    # collapses throughput at high task concurrency — see codecs.strings)
    did_arr = part.column(part.schema.get_field_index("doc_id"))
    src_arr = part.column(part.schema.get_field_index("source"))
    did_blob, did_codec = encode_strings_arrow(did_arr)
    src_blob, src_codec = encode_strings_arrow(src_arr)
    did_blob, src_blob = wrap_zstd(did_blob, zstd_level), wrap_zstd(src_blob, zstd_level)
    meta["streams"]["doc_id"] = STR_CODEC_NAMES[did_codec]
    meta["streams"]["source"] = STR_CODEC_NAMES[src_codec]
    extras_blob, extra_bytes = _pack_extras(part, extras or [], zstd_level, meta)
    did_payload = utf8_buffers(did_arr)[0]
    did_bytes = len(did_payload)
    src_bytes = len(utf8_buffers(src_arr)[0])
    bytes_in = int(4 * len(flat) + 4 * len(lengths) + did_bytes + src_bytes + extra_bytes)
    bytes_out = len(tokens_blob) + len(did_blob) + len(src_blob) + len(extras_blob)
    crc = zlib.crc32(flat.tobytes()) ^ zlib.crc32(did_payload)
    if extras:
        crc ^= zlib.crc32(extras_blob)
    mm = pc.min_max(did_arr).as_py() if len(did_arr) else {"min": "", "max": ""}
    # token-membership filter + value zone (tokfilter.py): the kernel's
    # chunk tests for token-content reads; deterministic, so resume
    # reproduces it byte-identically.
    # SIZE GUARD: a tiny chunk (small salted buckets, last slivers) would
    # pay a disproportionate bitmap — keep the filter only while it costs
    # ≲6% of the encoded token stream (zones are 16 bytes, always kept);
    # a dropped filter is a NULL the read path treats conservatively.
    tok_filter = build_token_filter(flat)
    t_lo, t_hi = token_filter_bounds(tok_filter)
    if len(tok_filter) > max(512, len(tokens_blob) // 16):
        tok_filter = None
    row = {
        "chunk_crc": crc,
        "doc_id_min": mm["min"],
        "doc_id_max": mm["max"],
        "n_tok_min": int(lengths.min()) if len(lengths) else 0,
        "n_tok_max": int(lengths.max()) if len(lengths) else 0,
        "tok_min": t_lo,
        "tok_max": t_hi,
        "tok_filter": tok_filter,
        "n_docs": len(lengths),
        "n_tokens": len(flat),
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
        "doc_id_blob": did_blob,
        "source_blob": src_blob,
        "tokens_blob": tokens_blob,
        "extras_blob": extras_blob,
        "meta_json": json.dumps(meta["streams"], sort_keys=True),
        "n_chunks": 1,
        "checksum": crc,
        "codecs": {f"{k}:{v}": 1 for k, v in meta["streams"].items()},
    }
    return row


_FOLD_SUMS = ("n_chunks", "n_docs", "n_tokens", "bytes_in", "bytes_out")


def fold_parts(rows: list[dict]) -> dict:
    """Fold a unit's chunk rows into its part's row (no rows: the zero
    record of an empty input file). Sums, checksum XOR and codec counts
    add up. Zone bounds skip only MISSING values (an empty doc_id is a
    real bound: dropping it let the manifest prune files holding matching
    rows); token zones skip empty rows (``tok_max < tok_min``). The
    membership filter is the OR of the rows' filters, and only if EVERY
    row has one — a row missing from the OR would be a false negative."""
    toks = [r for r in rows if r["tok_min"] is not None and r["tok_max"] is not None
            and r["tok_max"] >= r["tok_min"]]

    def bound(pick, key, rs=rows):
        return pick((r[key] for r in rs if r[key] is not None), default=None)

    out = {k: sum(r[k] for r in rows) for k in _FOLD_SUMS}
    out["checksum"] = reduce(operator.xor, (r["checksum"] for r in rows), 0)
    out["codecs"] = {}
    for r in rows:
        for k, v in r["codecs"].items():
            out["codecs"][k] = out["codecs"].get(k, 0) + v
    for col in ("doc_id", "n_tok"):
        out[f"{col}_min"], out[f"{col}_max"] = bound(min, f"{col}_min"), bound(max, f"{col}_max")
    out["tok_min"], out["tok_max"] = bound(min, "tok_min", toks), bound(max, "tok_max", toks)
    whole = rows and all(r["tok_filter"] is not None for r in rows)
    out["tok_filter"] = (
        merge_token_filters([bytes(r["tok_filter"]) for r in rows]) if whole else None
    )
    return out


def _concat(batches: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def _unit_chunks(
    pieces: Iterator[tuple[str, pa.RecordBatch]],
) -> Iterator[tuple[str, pa.RecordBatch]]:
    """Re-cut (stem, batch) pieces, each unit's pieces in a row, into
    (stem, chunk) pairs of ``_CHUNK_ROWS`` rows counted from the unit's
    first row (its last chunk shorter), whatever batches the unit came
    in."""
    stem, buf, n = None, [], 0
    for key, part in pieces:
        if key != stem:
            if n:
                yield stem, _concat(buf)
            stem, buf, n = key, [], 0
        buf.append(part)
        n += part.num_rows
        while n >= _CHUNK_ROWS:
            whole = _concat(buf)
            yield stem, whole.slice(0, _CHUNK_ROWS)
            buf, n = [whole.slice(_CHUNK_ROWS)], n - _CHUNK_ROWS
    if n:
        yield stem, _concat(buf)


def _part_row(out_dir: str, stem: str, rows: list[dict]) -> dict:
    """Write one unit's chunk rows as a part file; returns its part row
    (``_META_ARROW_SCHEMA``)."""
    part_path = _write_part(out_dir, stem, pa.Table.from_pylist(rows, schema=_ENC_ARROW_SCHEMA))
    part = fold_parts(rows)
    part["codecs_json"] = json.dumps(part.pop("codecs"), sort_keys=True)
    return {"file_stem": stem, "part_path": part_path, **part}


def _encode_units(
    pieces: Iterator[tuple[str, pa.RecordBatch]],
    out_dir: str,
    zstd_level: int,
    extras: list[list[str]],
) -> Iterator[dict]:
    """The encode kernel of both runners: (stem, batch) pieces, each
    commit unit's pieces in a row. A unit's chunks (``_unit_chunks``)
    become one part file, written when the unit ends; yields its part
    row. A unit with no rows writes nothing."""
    stem, rows = None, []
    for key, chunk in _unit_chunks(pieces):
        if key != stem and rows:
            yield _part_row(out_dir, stem, rows)
            rows = []
        stem = key
        rows.append(_encode_chunk_row(chunk, zstd_level, extras=extras))
    if rows:
        yield _part_row(out_dir, stem, rows)


def _encode_local(
    units: list[Iterable[tuple[str, pa.RecordBatch]]],
    out_dir: str,
    zstd_level: int,
    extras: list[list[str]],
) -> list[dict]:
    """The in-process runner: each unit's (stem, batch) pieces through
    the kernel as one task of a pool of ``min(len(units), host_cores())``
    threads; returns the part rows in unit order. The first unit that
    raises fails the job once the running units finish; the units not
    yet started never run."""
    def encode(unit):
        return list(_encode_units(unit, out_dir, zstd_level, extras))

    with ThreadPoolExecutor(max(1, min(len(units), host_cores()))) as pool:
        return [row for rows in pool.map(encode, units) for row in rows]


def _make_encode_fn(out_dir: str, zstd_level: int, extras: list[list[str]], pieces: Callable):
    """``_encode_units`` as a ``mapInArrow`` function: ``pieces`` turns a
    task's batches into its units' (stem, batch) pieces, and the task's
    part rows come back as one batch."""

    def encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out_rows = list(_encode_units(pieces(batches), out_dir, zstd_level, extras))
        if out_rows:
            yield pa.RecordBatch.from_pylist(out_rows, schema=_META_ARROW_SCHEMA)

    return encode_batches


def _token_id_list(contains_token) -> list[int]:
    """Normalize the ``contains_token`` argument (single id or an ANY-match
    id set) to a sorted de-duplicated int list."""
    if isinstance(contains_token, (list, tuple, set, frozenset)):
        ids = sorted({int(t) for t in contains_token})
        if not ids:
            raise ValueError("contains_token list must be non-empty")
    else:
        ids = [int(contains_token)]
    # tokens are int32 by schema: an out-of-range id silently wrapped on
    # older numpy (np.asarray(..., int32)) and raised OverflowError deep in
    # the kernel on numpy>=2 — fail fast with a clear message instead
    # (r6 ADVICE)
    bad = [t for t in ids if not (-(1 << 31) <= t < (1 << 31))]
    if bad:
        raise ValueError(
            f"contains_token ids outside int32 range (tokens are int32; "
            f"such ids can never occur): {bad[:5]}"
        )
    return ids


def _token_chunk(row: dict, got: dict) -> TokenChunk:
    """The chunk row's token chunk, parsed once per row (``got`` caches
    per row): the row tests and the output columns share its streams."""
    if "tokens_blob" not in got:
        got["tokens_blob"] = TokenChunk(bytes(row["tokens_blob"]))
    return got["tokens_blob"]


def _decode_column(row: dict, name: str, got: dict, extras: tuple) -> "pa.Array":
    """Every value of column ``name`` (not ``tokens``) in one chunk row,
    parsed from its blob at most once (``got`` caches per row): ``n_tok``
    from the lengths stream alone, an extra column from its child of the
    container, one child per declared ``extras`` (name, spark type)."""
    if name in got:
        return got[name]
    if name == "n_tok":
        got[name] = pa.array(decode_chunk_lengths(_token_chunk(row, got)), type=pa.int32())
    elif name in _BLOB_OF:
        got[name] = decode_strings_arrow(bytes(row[_BLOB_OF[name]]))
    else:  # an extra: split the shared container once per row
        if "extras_blob" not in got:
            payloads = read_children(memoryview(bytes(row["extras_blob"])), 0, len(extras))
            got["extras_blob"] = {n: (t, p) for (n, t), p in zip(extras, payloads)}
        got[name] = _decode_extra(*got["extras_blob"][name])
    return got[name]


def _decode_tokens(chunk: TokenChunk, rows: np.ndarray | None) -> "pa.ListArray":
    """The ``tokens`` of docs ``rows`` of a chunk (None: all of them)."""
    flat, lengths = decode_token_chunk(chunk) if rows is None else decode_token_rows(chunk, rows)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(  # zero-copy
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
    )


def _make_decode_fn(plan: ReadPlan, columns: list[str]):
    """Decode kernel: chunk rows in, the read's exact rows of ``columns``
    out; the one place a chunk is pruned. The extra columns are the ones
    the records declare (``plan.extras``). Per chunk,
    before any blob is parsed: ``plan.zones`` skip the chunk with the test
    the keep-list applies to records (``_Zone.keeps``), then the
    membership bitmap skips it when it proves every ``plan.tok_ids``
    absent (tokfilter.py). Then ``plan.rows`` test the chunk's rows and
    their masks are ANDed, and a chunk with no surviving row stops there.
    A test reads only what it tests: ``n_tok`` the lengths stream, a token
    test the encoded value streams (``token_docs_with_any``). Then the
    output columns are decoded, ``tokens`` for the kept rows only
    (``decode_token_rows``) unless every row is kept. Blobs no test or
    output column needs are never parsed, and the token chunk's streams
    are unwrapped at most once per row."""
    schema = _decoded_arrow_schema(plan.extras, columns)

    def decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for row in batch.to_pylist():  # a few chunk rows per batch — not hot
                if not all(z.keeps(row) for z in plan.zones):
                    continue
                # a NULL filter (pre-upgrade chunk) is decoded conservatively
                filt = row.get("tok_filter") if plan.tok_ids is not None else None
                if filt is not None and not token_filter_contains_any(bytes(filt), plan.tok_ids):
                    continue
                got: dict = {}
                keep = None
                for name, test in plan.rows:
                    hit = test(_token_chunk(row, got) if name == "tokens"
                               else _decode_column(row, name, got, plan.extras))
                    keep = hit if keep is None else keep & hit
                    if not keep.any():
                        break
                else:  # some row survives every test
                    rows = None if keep is None or keep.all() else np.flatnonzero(keep)
                    out = [_decode_tokens(_token_chunk(row, got), rows) if c == "tokens"
                           else _decode_column(row, c, got, plan.extras) for c in schema.names]
                    if rows is not None:
                        mask = pa.array(keep)
                        out = [a if c == "tokens" else a.filter(mask)
                               for c, a in zip(schema.names, out)]
                    yield pa.RecordBatch.from_arrays(out, schema=schema)

    return decode_batches


def _scan_columns(plan: ReadPlan, columns: list[str]) -> list[str]:
    """The chunk-row columns a read scans, for either runner: the blobs
    the kernel parses, the zone columns of ``plan.zones`` and the chunk
    bitmaps of a token read."""
    cols = {_BLOB_OF.get(c, "extras_blob") for c in [*columns, *(c for c, _ in plan.rows)]}
    cols.update(f"{z.col}_{end}" for z in plan.zones for end in ("min", "max"))
    if plan.tok_ids is not None:
        cols.add("tok_filter")
    return sorted(cols)


def _read_spark(spark: SparkSession, plan: ReadPlan, columns: list[str]) -> DataFrame:
    """The Spark runner: the kept records' part files (``plan.stems``)
    scanned with the declared chunk schema and decoded by the kernel in a
    ``mapInArrow`` job when an action runs. No directory listing or
    partition discovery, and a named file that is gone fails the action.
    Glob metacharacters are escaped: the paths are literal."""
    files = [re.sub(r"([\[\]{}*?\\])", r"\\\1", f) for fs in plan.stems.values() for f in fs]
    return spark.read.schema(_ENC_SCHEMA).parquet(*files).select(
        *_scan_columns(plan, columns)
    ).mapInArrow(
        _make_decode_fn(plan, columns),
        schema=from_arrow_schema(_decoded_arrow_schema(plan.extras, columns)),
    )


def _read_local(spark: SparkSession, plan: ReadPlan, columns: list[str]) -> DataFrame:
    """The in-process runner: the kept records' part files read with
    pyarrow (the declared chunk schema, literal paths, no partition
    discovery; a named file that is gone raises) and decoded by the same
    kernel on the driver, now; the DataFrame is built from the decoded
    Arrow rows."""
    schema = _decoded_arrow_schema(plan.extras, columns)
    files = [f for fs in plan.stems.values() for f in fs]
    batches = []
    if files:
        chunks = pq.read_table(files, columns=_scan_columns(plan, columns),
                               schema=_ENC_ARROW_SCHEMA, partitioning=None)
        batches = list(_make_decode_fn(plan, columns)(chunks.to_batches()))
    # createDataFrame fails on a list column with no chunks: an empty read
    # is one empty batch
    rows = pa.Table.from_batches(batches or [pa.RecordBatch.from_pylist([], schema=schema)])
    return spark.createDataFrame(rows, schema=from_arrow_schema(schema))


# ----------------------------------------------------------------- manifest


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _atomic_write(path: str, data: str | bytes) -> None:
    """Write ``path`` via a hidden temp file and a rename — the commit
    step of every manifest-plane write (readers never see a torn file)."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    os.rename(tmp, path)


def _manifest_paths(out_dir: str) -> tuple[list[str], list[str]]:
    """(segments ascending, loose per-file JSONs) — the ONE listing whose
    rules (segment glob order, underscore exclusion: the job-level files
    older builds kept here are never records) every manifest reader
    shares; read_manifest and the compactors must agree on it byte for
    byte."""
    mdir = _manifest_dir(out_dir)
    segs = sorted(glob.glob(os.path.join(mdir, "_compacted-*.jsonl")))
    loose = [
        p
        for p in glob.glob(os.path.join(mdir, "*.json"))
        if not os.path.basename(p).startswith("_")
    ]
    return segs, loose


def read_manifest(out_dir: str) -> dict[str, dict]:
    """Committed records: compacted JSONL segments first (ascending), then
    loose per-file JSONs (newer, override by stem)."""
    records = {}
    segs, loose = _manifest_paths(out_dir)
    for p in segs:
        with open(p) as f:
            for line in f:
                rec = json.loads(line)
                records[rec["file_stem"]] = rec
    for p in loose:
        with open(p) as f:
            rec = json.load(f)
        records[rec["file_stem"]] = rec
    return records


@dataclass(frozen=True)
class _Zone:
    """Zone-overlap predicate on ``<col>_min``/``<col>_max``, columns that
    manifest records and chunk rows share: keep when the zone meets ANY of
    ``spans`` (closed intervals) or lacks a bound (conservative NULL rule:
    pre-upgrade encodes stay readable). ``keeps`` is the one test: the
    keep-list applies it to record dicts, the decode kernel to chunk
    rows."""

    col: str
    spans: tuple

    def keeps(self, rec: dict) -> bool:
        lo, hi = rec.get(f"{self.col}_min"), rec.get(f"{self.col}_max")
        return lo is None or hi is None or any(hi >= a and lo <= b for a, b in self.spans)


def _is_in(values: list, arr: "pa.Array") -> np.ndarray:
    return pc.is_in(arr, value_set=pa.array(values)).to_numpy(zero_copy_only=False)


def _between(lo, hi, arr: "pa.Array") -> np.ndarray:  # closed interval
    inside = pc.and_(pc.greater_equal(arr, lo), pc.less_equal(arr, hi))
    return inside.to_numpy(zero_copy_only=False)


@dataclass(frozen=True)
class ReadPlan:
    """A read's zone predicates (ANDed; they prune records in the
    keep-list and chunk rows in the decode kernel), token ids (sidecar
    probe, chunk bitmap skip) and exact row tests ``rows``: (decoded
    column, test) pairs, each test mapping that column's Arrow array (for
    ``tokens``, the row's parsed ``TokenChunk``) to a numpy bool mask,
    which the decode kernel ANDs. ``stems`` maps every kept file's
    stem to the part files its record names (the files the read scans);
    ``funnel`` counts files per pruning stage and the kept bytes
    (``read_decoded`` adds the ``runner`` they chose); ``extras`` are the
    extra columns (name, spark type) every record declares, in container
    order."""

    zones: tuple
    tok_ids: list[int] | None
    rows: tuple
    stems: dict[str, list[str]]
    funnel: dict
    extras: tuple


def _part_files(out_dir: str, rec: dict) -> list[str]:
    """The part files a committed record names: exactly its stem's rows."""
    if "parts" not in rec or "extras" not in rec:
        raise ValueError(
            f"manifest record {rec['file_stem']!r} predates records that name "
            "their part files and extra columns; re-encode the dataset"
        )
    return [os.path.join(out_dir, p) for p in rec["parts"]]


def _sidecar_keeps(out_dir: str, rec: dict, tok_ids: list[int]) -> bool:
    """May the record's token-filter sidecar hold one of the ids inside
    its token zone? Out-of-zone ids are not probed (a hashed-mode false
    positive on one must not keep the file); a record without a sidecar
    is kept."""
    if "tok_filter" not in rec:
        return True
    lo, hi = rec.get("tok_min"), rec.get("tok_max")
    cand = tok_ids if lo is None or hi is None else [t for t in tok_ids if lo <= t <= hi]
    with open(os.path.join(out_dir, rec["tok_filter"]), "rb") as f:
        return token_filter_contains_any(f.read(), cand)


def _keep_list(
    out_dir: str, zones: tuple, tok_ids: list[int] | None, sources: set[str] | None
) -> tuple[dict[str, list[str]], dict, tuple]:
    """Driver keep-list over ``read_manifest``: (kept stem → its part
    files, funnel, the extra columns the records declare — all records
    must agree). The funnel counts files per pruning stage and sums the
    kept records' encoded bytes (``bytes_kept``). Each record is tested
    against the zones, then a by-source bucket record by its ``source``,
    then a token read's sidecar probe."""
    stems, zone_pruned, source_pruned, extras = {}, 0, 0, set()
    records = read_manifest(out_dir)
    for stem, rec in records.items():
        files = _part_files(out_dir, rec)
        extras.add(tuple(map(tuple, rec["extras"])))
        if not all(z.keeps(rec) for z in zones):
            zone_pruned += 1
        elif sources is not None and "source" in rec and rec["source"] not in sources:
            source_pruned += 1
        elif tok_ids is None or _sidecar_keeps(out_dir, rec, tok_ids):
            stems[stem] = files
    if len(extras) > 1:
        raise ValueError(
            f"manifest records declare different extra columns {sorted(extras)}; "
            "re-encode into a fresh out_dir"
        )
    return stems, {
        "files_total": len(records),
        "files_zone_pruned": zone_pruned,
        "files_source_pruned": source_pruned,
        "files_filter_pruned": len(records) - zone_pruned - source_pruned - len(stems),
        "files_kept": len(stems),
        "bytes_kept": sum(records[stem]["bytes_out"] for stem in stems),
    }, extras.pop() if extras else ()


def plan_read(
    out_dir: str,
    doc_id_range: tuple[str, str] | None = None,
    doc_ids: list[str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    tok_ids: int | list[int] | None = None,
    sources: list[str] | None = None,
) -> ReadPlan:
    """Build a read's zone predicates and exact row tests once, and pick
    its files on the driver: one ``read_manifest``, each record tested
    against the zones, then a by-source bucket by its source, then the
    token reads' sidecar probe. A read without a filter keeps every
    record. An empty ``doc_ids`` or ``sources`` list raises, like an
    empty token list: it names no row."""
    for name, arg in (("doc_ids", doc_ids), ("sources", sources)):
        if arg is not None and not len(arg):
            raise ValueError(f"{name} list must be non-empty")
    zones, rows = [], []
    if sources is not None:
        rows.append(("source", partial(_is_in, sorted(set(sources)))))
    if doc_id_range:
        zones.append(_Zone("doc_id", (tuple(doc_id_range),)))
        rows.append(("doc_id", partial(_between, *doc_id_range)))
    if doc_ids is not None:  # one span per id; past a cap, the ids' overall range
        ids = sorted(set(doc_ids))
        zones.append(_Zone("doc_id", tuple(
            [(i, i) for i in ids] if len(ids) <= 256 else [(ids[0], ids[-1])]
        )))
        rows.append(("doc_id", partial(_is_in, ids)))
    if n_tok_range:
        zones.append(_Zone("n_tok", (tuple(n_tok_range),)))
        rows.append(("n_tok", partial(_between, *n_tok_range)))
    tids = None if tok_ids is None else _token_id_list(tok_ids)
    if tids is not None:  # ANY-match: per-id spans OR'd
        zones.append(_Zone("tok", tuple((t, t) for t in tids)))
        rows.append(("tokens", partial(token_docs_with_any, ids=tids)))
    stems, funnel, extras = _keep_list(
        out_dir, tuple(zones), tids, None if sources is None else set(sources)
    )
    return ReadPlan(tuple(zones), tids, tuple(rows), stems, funnel, extras)


def compact_manifest(out_dir: str) -> dict:
    """Fold loose per-file manifest JSONs into one JSONL segment.

    The per-file JSON stays the atomic COMMIT unit (its rename is the
    transaction); compaction is a maintenance pass so that resume's listing
    cost is O(segments + files since last compaction), not O(every file
    ever encoded) — at the 10^12-sequence target (~40M input files) an
    uncompacted listing would dominate job startup. Iceberg analog: the
    manifest-list absorbing per-snapshot data-file manifests.

    Crash-safe: the merged segment is renamed into place before absorbed
    loose JSONs / older segments are unlinked; a crash in between only
    leaves redundant records whose merge (loose overrides segment, later
    segment overrides earlier) is idempotent.
    """
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    old_segments, loose = _manifest_paths(out_dir)
    records = read_manifest(out_dir)
    if not loose and len(old_segments) <= 1:
        return {"records": len(records), "absorbed": 0, "segments": len(old_segments)}
    next_idx = (
        int(os.path.basename(old_segments[-1]).split("-")[1].split(".")[0]) + 1
        if old_segments
        else 0
    )
    seg = os.path.join(mdir, f"_compacted-{next_idx:06d}.jsonl")
    _atomic_write(
        seg, "".join(json.dumps(records[s], sort_keys=True) + "\n" for s in sorted(records))
    )
    for p in loose + old_segments:
        os.unlink(p)
    return {"records": len(records), "absorbed": len(loose), "segments": 1}


def compact_encoded(out_dir: str) -> dict:
    """Delete every ``data/<stem>/`` dir no record names: a stem whose
    first encode crashed before its record, and whose input is gone, is
    never committed again (a committed stem's stray files go at its next
    commit, ``_commit``). The sweep must not run beside an encode job
    into the same out_dir, whose new stems have no record yet."""
    records = read_manifest(out_dir)
    data = os.path.join(out_dir, "data")
    orphans = sorted(set(os.listdir(data)) - set(records)) if os.path.isdir(data) else []
    for stem in orphans:
        shutil.rmtree(os.path.join(data, stem))
    return {"stems_swept": len(orphans)}


def _snapshot(path: str) -> dict:
    """Input-file snapshot for exact resume: size AND mtime, so an in-place
    rewrite to the same byte count still invalidates the commit."""
    st = os.stat(path)
    return {"size": st.st_size, "mtime_ns": st.st_mtime_ns, "path": path}


def _files_present(out_dir: str, rec: dict) -> bool:
    """Does every file a committed record names (its ``parts`` and its
    ``tok_filter`` sidecar) exist? A resume redoes a record that names
    a missing file, as if its input had changed; reads still raise."""
    named = [*rec.get("parts", ()), *([rec["tok_filter"]] if "tok_filter" in rec else [])]
    return all(os.path.exists(os.path.join(out_dir, p)) for p in named)


def _snapshot_matches(rec: dict, path: str) -> bool:
    snap = rec.get("snapshot", {})
    st = os.stat(path)
    return snap.get("size") == st.st_size and snap.get("mtime_ns") == st.st_mtime_ns


def _commit(out_dir: str, rec: dict) -> None:
    """The one commit step. The record's atomic write makes the files it
    names (``parts``, the ``tok_filter`` sidecar) its stem's data; the
    stem's other files (the previous commit's, a crashed run's) are
    deleted after it. A crash before the write leaves the old record and
    every file it names; a crash after it only leaves unnamed files."""
    stem = rec["file_stem"]
    _atomic_write(
        os.path.join(_manifest_dir(out_dir), f"{stem}.json"), json.dumps(rec, sort_keys=True)
    )
    named = {*rec["parts"], rec.get("tok_filter")}
    stem_dir = _stem_dir(stem)
    path = os.path.join(out_dir, stem_dir)
    for name in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        if os.path.join(stem_dir, name) not in named:
            os.remove(os.path.join(path, name))


def _commit_parts(out_dir: str, stem: str, row: dict | None, **fields) -> None:
    """Commit the one part row (META_SCHEMA) the encode kernel wrote for
    a unit, or None for an empty input file (a zero record that names no
    part): the record is the part row plus the caller's ``fields``; its
    token filter goes to a fresh sidecar name the record names, and
    ``_commit`` writes the record."""
    if row is None:
        rec, parts = fold_parts([]), []
    else:
        rec = {**row, "codecs": json.loads(row["codecs_json"])}
        parts = [rec.pop("part_path")]
        del rec["codecs_json"]
    tok_filter = rec.pop("tok_filter")
    rec.update({"file_stem": stem, "parts": parts, "committed_at": time.time(), **fields})
    if tok_filter is not None:
        rec["tok_filter"] = os.path.join(_stem_dir(stem), f"tokfilter-{uuid.uuid4().hex}.bin")
        _atomic_write(os.path.join(out_dir, rec["tok_filter"]), bytes(tok_filter))
    _commit(out_dir, rec)


def _job_metrics(metrics: dict, out_dir: str, files: list[str], t0: float) -> dict:
    """Add the totals every encode job reports to ``metrics``; returns
    the manifest. A call that had nothing to encode ran no runner."""
    metrics.setdefault("runner", None)
    metrics.setdefault("input_bytes", 0)
    manifest = read_manifest(out_dir)
    for k in ("n_docs", "n_tokens", "bytes_in", "bytes_out"):
        metrics[k] = sum(r[k] for r in manifest.values())
    metrics["input_parquet_bytes"] = sum(os.stat(f).st_size for f in files)
    metrics["encoded_parquet_bytes"] = sum(
        os.stat(p).st_size for r in manifest.values() for p in _part_files(out_dir, r)
    )
    metrics["ratio_vs_parquet_zstd"] = (
        metrics["encoded_parquet_bytes"] / metrics["input_parquet_bytes"]
    )
    metrics["wall_s"] = time.time() - t0
    metrics["tokens_per_s"] = metrics["n_tokens"] / metrics["wall_s"] if metrics["wall_s"] else 0.0
    return manifest


def _input_files(input_path: str | list[str]) -> list[str]:
    """A job's input parquet files, sorted: a path list, or a directory's
    ``*.parquet``."""
    files = sorted(
        input_path if isinstance(input_path, list)
        else glob.glob(os.path.join(input_path, "*.parquet"))
    )
    if not files:
        raise ValueError(f"no parquet files under {input_path}")
    return files


def _extra_columns(schema: pa.Schema) -> list[tuple[str, str]]:
    """(name, spark type) of an input file's metadata columns beyond the
    core schema, sorted; an unsupported type fails the job up front."""
    extras = sorted(
        (f.name, from_arrow_type(f.type).typeName())
        for f in schema
        if f.name not in ("doc_id", "tokens", "n_tok", "source")
    )
    for name, t in extras:
        if t not in _ARROW_OF:
            raise ValueError(
                f"unsupported extra column {name!r} of type {t!r} "
                f"(supported: {sorted(_ARROW_OF)})"
            )
    return extras


def _input_extras(files: list[str]) -> list[list[str]]:
    """The extra columns [[name, spark type], …] every file in ``files``
    declares in its parquet footer (no data page is read). Files that
    disagree raise, naming two of them: Spark would infer one file's
    schema for the whole scan and drop or NULL the others' columns."""
    def extras(f):
        return [list(e) for e in _extra_columns(pq.read_schema(f))]

    first = extras(files[0])
    for f in files[1:]:
        if (other := extras(f)) != first:
            raise ValueError(
                f"input files declare different extra columns: {files[0]} has {first}, "
                f"{f} has {other}; encode them into separate out_dirs"
            )
    return first


# ---------------------------------------------------------------- encode job


def _encode_spark(
    df: DataFrame, pieces: Callable, out_dir: str, zstd_level: int, extras: list[list[str]],
) -> list[dict]:
    """The Spark runner: ``df``'s partitions through the kernel in a
    ``mapInArrow`` job, each task's batches cut into (stem, batch)
    pieces by ``pieces``; returns the part rows."""
    return [r.asDict() for r in df.mapInArrow(
        _make_encode_fn(out_dir, zstd_level, extras, pieces), schema=META_SCHEMA
    ).collect()]


def _encode_parts(
    files: list[str], out_dir: str, done: dict[str, dict], by_source: bool,
    zstd_level: int, metrics: dict,
    spark_units: Callable[[], tuple[DataFrame, Callable]],
    local_units: Callable[[], list[Iterable[tuple[str, pa.RecordBatch]]]],
) -> tuple[dict[str, dict], list[list[str]]]:
    """The encode job of both layouts over ``files``; returns (each
    unit's one part row by stem, the extra columns [[name, spark type],
    …] each of the job's records declares).

    Before any task runs, every file in ``files`` must declare the same
    extra columns (``_input_extras``), and every committed record in
    ``done`` must have the job's layout (by-source records carry
    ``n_salts``) and those extras, otherwise the job raises: a read
    serves all records as one table.

    Then the job's input bytes (``files``' on-disk size, recorded with
    the choice in ``metrics`` as ``input_bytes`` and ``runner``) pick
    one runner for the whole job: at or below ``_LOCAL_ENCODE_BYTES`` the
    kernel runs in this process over ``local_units()`` (each unit's
    (stem, batch) pieces) on a thread pool (``_encode_local``) and makes
    no JVM call; above it the DataFrame ``spark_units()`` returns runs
    through it in a Spark job (``_encode_spark``), each task's batches
    cut into whole units by the function it returns with it. A unit's
    chunks are cut from its own rows alone, so both runners write the
    same bytes, and a unit is one part: a stem that comes back as two
    part rows raises before anything is committed."""
    extras = _input_extras(files)
    for stem, rec in done.items():
        if ("n_salts" in rec) != by_source or rec.get("extras") != extras:
            raise ValueError(
                f"record {stem!r} (by-source: {'n_salts' in rec}, extras {rec.get('extras')}) "
                f"does not match this job (by-source: {by_source}, extras {extras}); "
                "encode into a fresh out_dir"
            )
    size = sum(os.stat(f).st_size for f in files)
    local = size <= _LOCAL_ENCODE_BYTES
    metrics.update(runner="local" if local else "spark", input_bytes=size)
    if local:
        part_rows = _encode_local(local_units(), out_dir, zstd_level, extras)
    else:
        part_rows = _encode_spark(*spark_units(), out_dir, zstd_level, extras)
    by_stem: dict[str, dict] = {}
    for r in part_rows:
        if r["file_stem"] in by_stem:
            raise ValueError(
                f"commit unit {r['file_stem']!r} was encoded as more than one part; "
                "a unit must be whole within one task"
            )
        by_stem[r["file_stem"]] = r
    return by_stem, extras


def _file_pieces(f: str) -> Iterator[tuple[str, pa.RecordBatch]]:
    """One per-file unit, for either runner: the file's batches, keyed by
    the stem of its path, read whole by the task that encodes them."""
    for batch in pq.ParquetFile(f).iter_batches(batch_size=_CHUNK_ROWS):
        yield _stem(f), batch


def _path_pieces(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[str, pa.RecordBatch]]:
    """A per-file Spark task's units: the files its row of paths names."""
    for batch in batches:
        for paths in batch.column(0).to_pylist():
            for f in paths:
                yield from _file_pieces(f)


def _path_df(spark: SparkSession, files: list[str]) -> DataFrame:
    """The per-file Spark runner's input: one row per task, the paths it
    reads whole (``_path_pieces``), so no file is split. Largest first,
    each file goes to the task with the fewest bytes so far, across
    ``min(files, defaultParallelism)`` tasks, so no task reads more than
    the mean plus one file. A local DataFrame is cut into
    ``defaultParallelism`` partitions, so each row is one task, and a
    task carries its own paths and no others."""
    tasks = [(0, k, []) for k in range(min(len(files), spark.sparkContext.defaultParallelism))]
    for size, f in sorted(((os.stat(f).st_size, f) for f in files), reverse=True):
        nbytes, k, paths = heapq.heappop(tasks)
        paths.append(f)
        heapq.heappush(tasks, (nbytes + size, k, paths))
    return spark.createDataFrame([(paths,) for _, _, paths in tasks], "paths array<string>")


def encode_dataset(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    zstd_level: int = 3,
) -> dict:
    """Encode all input parquet files, skipping files already committed with
    a matching input snapshot whose record's files all exist (a record
    that names a missing part or sidecar is re-encoded). Returns job
    metrics."""
    t0 = time.time()
    files = _input_files(input_path)
    # commits are keyed by basename stem: same-named files from different
    # directories would collapse into one commit and silently drop data
    stems = [_stem(f) for f in files]
    if len(set(stems)) != len(stems):
        dupes = sorted({s for s in stems if stems.count(s) > 1})
        raise ValueError(f"duplicate input file stems (commit key collision): {dupes}")
    done = read_manifest(out_dir)
    todo = [
        f for f in files
        if _stem(f) not in done or not _snapshot_matches(done[_stem(f)], f)
        or not _files_present(out_dir, done[_stem(f)])
    ]
    metrics = {
        "files_total": len(files),
        "files_skipped": len(files) - len(todo),
        "files_encoded": len(todo),
    }
    if todo:
        by_stem, extras = _encode_parts(
            todo, out_dir, done, False, zstd_level, metrics,
            lambda: (_path_df(spark, todo), _path_pieces),
            lambda: [_file_pieces(f) for f in todo],
        )
        # commit per file; an empty input file yields no part row and
        # commits a zero record, so resume doesn't rescan it forever
        for f in todo:
            _commit_parts(out_dir, _stem(f), by_stem.get(_stem(f)), extras=extras,
                          snapshot=_snapshot(f))

    _job_metrics(metrics, out_dir, files, t0)
    return metrics


def _plan_decode(
    out_dir: str,
    sources: list[str] | None = None,
    doc_id_range: tuple[str, str] | None = None,
    doc_ids: list[str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    contains_token: int | list[int] | None = None,
    columns: list[str] | None = None,
) -> tuple[ReadPlan, list[str]]:
    """``read_decoded``'s plan and output columns, ready for either
    runner: its arguments, checked the same way."""
    if columns is not None and not len(columns):
        raise ValueError("columns list must be non-empty")
    plan = plan_read(
        out_dir, doc_id_range, doc_ids, n_tok_range, contains_token, sources=sources
    )
    names = _decoded_arrow_schema(plan.extras).names
    if columns is not None:
        unknown = set(columns) - set(names)
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        names = [c for c in names if c in columns]
    return plan, names


def read_decoded(
    spark: SparkSession,
    out_dir: str,
    sources: list[str] | None = None,
    doc_id_range: tuple[str, str] | None = None,
    doc_ids: list[str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    contains_token: int | list[int] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read the encoded table back as (doc_id, tokens, n_tok, source).

    Selective decode — the point of a columnar format at 100 TB. The
    driver keep-list (``plan_read``) picks the files: the scan reads
    exactly the part files the kept records name, so a pruned file never
    opens a parquet footer (the Iceberg data-file-stats analogy of this
    manifest). The decode kernel is the only place a chunk row is pruned,
    with the zone test the keep-list applies to records, and it returns
    exactly the matching rows of ``columns`` (an empty list raises),
    parsing only the blobs its row tests and output columns need:
      * ``sources``: the kernel's exact ``source`` row test on ANY layout;
        on the by-source layout (encode_dataset_by_source) the keep-list
        also prunes whole buckets by the ``source`` their record carries;
      * ``doc_id_range``: file and chunk zone maps (doc_id_min/max) —
        blobs of a skipped chunk are never parsed;
      * ``n_tok_range``: sequence-LENGTH zone maps (n_tok_min/max) — the
        length-bucketed training read; its row test reads only the
        lengths stream, not the token values;
      * ``contains_token``: docs whose token array CONTAINS the id, or
        ANY id of a list (the banned-id-set audit); absent members of the
        set cost nothing. Prunes by file zones + the token-filter
        sidecars the records name (driver-side), then per chunk by its
        ``tok_min``/``tok_max`` zone and membership bitmap (in the
        kernel, before the token blob is parsed); the kernel's exact
        row test runs on the encoded value streams
        (``token_docs_with_any``). See encode/tokfilter.py.
    Encodes that predate a zone or filter column are conservatively kept
    at every level; the row tests stay exact.

    The runner is picked from the kept records' encoded bytes
    (``plan.funnel["bytes_kept"]``, recorded with the choice as
    ``funnel["runner"]``): at or below ``_LOCAL_READ_BYTES`` the kernel
    runs in this process and the read is decoded at call time
    (``_read_local``); above it the kernel runs in a ``mapInArrow`` job
    when an action runs (``_read_spark``). The file set is pinned at
    call time either way, so both return the same rows.

    CONTRACT BOUND for ``doc_ids``: the list is a plain Python argument,
    so it lives in driver memory and is folded into zone-map OR-predicates
    — the contract is point lookups of a HUMAN-SIZED id set (thousands,
    not millions). A distributed id set (e.g. the output of another
    query) must NOT be collected into this argument; at scale, either
    derive range/length bounds for it and use ``doc_id_range`` /
    ``n_tok_range``, or semi-join the decoded frame against the id frame.
    """
    plan, names = _plan_decode(
        out_dir, sources, doc_id_range, doc_ids, n_tok_range, contains_token, columns
    )
    local = plan.funnel["bytes_kept"] <= _LOCAL_READ_BYTES
    plan.funnel["runner"] = "local" if local else "spark"
    return (_read_local if local else _read_spark)(spark, plan, names)


def token_read_stats(out_dir: str, token: int | list[int]) -> dict:
    """Driver-side pruning funnel of a ``contains_token`` read (a single
    id or an ANY-match id list): ``plan_read``'s funnel, so tests and
    benchmarks can assert HOW MUCH a content read skips."""
    return plan_read(out_dir, tok_ids=token).funnel


def decode_verify(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    fraction: float = 1.0,
) -> dict:
    """Decode every partition, full-outer-join on doc_id against the source,
    assert every column bit-identical: tokens, n_tok, source and each extra.
    A column of the source that no record declares (or the reverse) makes
    every row a mismatch. Returns counts.

    ``fraction`` < 1 verifies a deterministic FILE-level sample (stems with
    crc32(stem) below the fraction cut): at the 100 TB target a full decode
    per run is its own 100 TB read, so routine verification samples files —
    the encoded side scans only the sampled files' parts — while
    small-scale gates keep fraction=1. Per-file layout only (by-source
    stems don't map back to input files); at least one file is always
    verified."""
    files = _input_files(input_path)
    plan = plan_read(out_dir)
    if fraction < 1.0:
        if any("n_salts" in r for r in read_manifest(out_dir).values()):
            raise ValueError("sampled verify requires the per-file layout")
        cut = int(fraction * 1000)
        sampled = [f for f in files if zlib.crc32(_stem(f).encode()) % 1000 < cut]
        files = sampled or files[:1]
        plan = replace(plan, stems={s: plan.stems[s] for s in map(_stem, files) if s in plan.stems})
    names = _decoded_arrow_schema(plan.extras).names
    dec = _read_spark(spark, plan, names)
    # every column of every file, from the footers: Spark would infer the
    # schema of one file
    src_schema = pa.unify_schemas([pq.read_schema(f) for f in files])
    src = spark.read.schema(from_arrow_schema(src_schema)).parquet(*files)
    joined = src.alias("s").join(dec.alias("d"), "doc_id", "full_outer")
    kinds = dict(plan.extras)
    # a column only one side has was lost: every row is a mismatch
    same = F.lit(sorted(src_schema.names) == sorted(names))
    for name in [n for n in names if n != "doc_id" and n in src_schema.names]:
        a, b = F.col(f"s.{name}"), F.col(f"d.{name}")
        eq = a == b
        if kinds.get(name) == "double":  # NaN round-trips bit-identically but NaN != NaN
            eq = eq | (F.isnan(a) & F.isnan(b))
        same = same & eq
    status = joined.select(
        F.when(F.col("s.n_tok").isNull() | F.col("d.n_tok").isNull(), "missing")
        .when(same, "ok")
        .otherwise("mismatch")
        .alias("status")
    )
    counts = {
        r["status"]: r["cnt"]
        for r in status.groupBy("status").agg(F.count("*").alias("cnt")).collect()
    }
    counts.setdefault("ok", 0)
    counts.setdefault("mismatch", 0)
    counts.setdefault("missing", 0)
    counts["bit_identical"] = counts["mismatch"] == 0 and counts["missing"] == 0
    return counts
