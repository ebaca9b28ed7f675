"""Per-column digests of an encoded output directory, for byte-identity
checks between two builds of the encoder on the same input.

Usage: python scripts/encode_digest.py OUT_DIR
       python scripts/encode_digest.py --runners IN_DIR

Prints one sha256 per blob column of the data files (tokens_blob,
doc_id_blob, source_blob, extras_blob, tok_filter), one over the token
filter sidecars, and one over the manifest records. Part files carry
random names, so each digest is taken over the sorted (stem, value
digest) pairs: it is independent of file order and still changes when
any single value does.

Files are found through the manifest records (``parts``, ``tok_filter``).
The manifest digest drops what names files or times rather than content:
``committed_at`` and ``parts``, and it reduces ``tok_filter`` to "has a
filter".

With ``--runners``, the script encodes IN_DIR in both layouts
(``encode_dataset``, ``encode_dataset_by_source``) with each encode
runner (in-process and ``mapInArrow``; 4 cores) into a temporary dir and
prints the digests of each layout. If the two runners' digests differ,
both are printed to stderr and the script exits 1. The package is
imported from the tree this script lives in, on the driver and on the
Python workers.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

import pyarrow.parquet as pq

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

from poc_parquet_aggregator_spark.encode import pipeline  # noqa: E402
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
    sidecars, records = [], []
    for stem, rec in read_manifest(out_dir).items():
        for part in rec["parts"]:
            tbl = pq.read_table(os.path.join(out_dir, part))
            for col in BLOB_COLUMNS:
                values = tbl.column(col).to_pylist() if col in tbl.column_names else [None]
                pairs[col] += [(stem, _value_digest(v)) for v in values]
        if "tok_filter" in rec:
            with open(os.path.join(out_dir, rec["tok_filter"]), "rb") as f:
                sidecars.append((f"{stem}.bin", _value_digest(f.read())))
        rec = {k: v for k, v in rec.items() if k not in ("committed_at", "parts")}
        if "tok_filter" in rec:
            rec["tok_filter"] = True
        records.append((stem, _value_digest(json.dumps(rec, sort_keys=True).encode())))
    out = {col: _digest(p) for col, p in pairs.items()}
    out["sidecars"] = _digest(sidecars)
    out["manifest"] = _digest(records)
    return out


def runner_digests(in_dir: str) -> int:
    """Encode ``in_dir`` with each runner in both layouts; print the
    digests, and return 1 if the runners' digests of a layout differ."""
    # workers start after this, so they import the same tree as the driver
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from poc_parquet_aggregator_spark.encode import encode_dataset, encode_dataset_by_source
    from poc_parquet_aggregator_spark.plans import get_spark

    spark = get_spark(app_name="encode-digest", cores=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    differ = 0
    with tempfile.TemporaryDirectory() as tmp:
        for encode in (encode_dataset, encode_dataset_by_source):
            got = {}
            # the runner is picked from the input size: force each in turn
            for runner, limit in (("local", 1 << 62), ("spark", -1)):
                pipeline._LOCAL_ENCODE_BYTES = limit
                out = os.path.join(tmp, f"{encode.__name__}-{runner}")
                encode(spark, in_dir, out)
                got[runner] = encode_digest(out)
            for name, digest in got["local"].items():
                print(f"{digest}  {encode.__name__} {name}")
                if got["spark"][name] != digest:
                    differ += 1
                    for runner, d in got.items():
                        print(f"RUNNERS DIFFER {encode.__name__} {name} {runner}: {d[name]}",
                              file=sys.stderr)
    spark.stop()
    return 1 if differ else 0


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--runners":
        return runner_digests(sys.argv[2])
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    for name, digest in encode_digest(sys.argv[1]).items():
        print(f"{digest}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
