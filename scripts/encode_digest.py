"""Per-column digests of an encoded output directory, for byte-identity
checks between two builds of the encoder on the same input.

Usage: python scripts/encode_digest.py OUT_DIR

Prints one sha256 per blob column of the data files (tokens_blob,
doc_id_blob, source_blob, extras_blob, tok_filter), one over the
``_tokfilters`` sidecars, and one over the manifest records with
``committed_at`` removed. Part files carry random names and a stem may
have several, so each digest is taken over the sorted (stem, value
digest) pairs: it is independent of file order and still changes when
any single value does.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from poc_parquet_aggregator_spark.encode.pipeline import read_manifest  # noqa: E402

BLOB_COLUMNS = ["tokens_blob", "doc_id_blob", "source_blob", "extras_blob", "tok_filter"]


def _digest(pairs: list[tuple[str, bytes]]) -> str:
    h = hashlib.sha256()
    for stem, value_digest in sorted(pairs):
        h.update(stem.encode() + b"\0" + value_digest)
    return h.hexdigest()


def _value_digest(v) -> bytes:
    return b"null" if v is None else hashlib.sha256(v).digest()


def encode_digest(out_dir: str) -> dict[str, str]:
    pairs: dict[str, list] = {c: [] for c in BLOB_COLUMNS}
    for path in glob.glob(os.path.join(out_dir, "data", "file_stem=*", "*.parquet")):
        stem = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        tbl = pq.read_table(path)
        for col in BLOB_COLUMNS:
            values = tbl.column(col).to_pylist() if col in tbl.column_names else [None]
            pairs[col] += [(stem, _value_digest(v)) for v in values]
    out = {col: _digest(p) for col, p in pairs.items()}
    sidecars = []
    for path in glob.glob(os.path.join(out_dir, "_tokfilters", "*.bin")):
        with open(path, "rb") as f:
            sidecars.append((os.path.basename(path), _value_digest(f.read())))
    out["_tokfilters"] = _digest(sidecars)
    records = []
    for stem, rec in read_manifest(out_dir).items():
        rec = {k: v for k, v in rec.items() if k != "committed_at"}
        records.append((stem, _value_digest(json.dumps(rec, sort_keys=True).encode())))
    out["manifest"] = _digest(records)
    return out


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    for name, digest in encode_digest(sys.argv[1]).items():
        print(f"{digest}  {name}")


if __name__ == "__main__":
    main()
