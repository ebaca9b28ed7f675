"""Row digests of every read kind over an encoded output directory, for
row-identity checks between the two read runners and between two builds
of the reader on the same data.

Usage: python scripts/read_digest.py OUT_DIR

Prints one line per read kind: the kind, its row count and one sha256
over its sorted rows. Every read runs through both runners (in-process
and ``mapInArrow``); if their digests differ, both are printed to stderr
and the script exits 1. The read arguments are derived deterministically
from the table itself (a full scan), so two builds reading the same
OUT_DIR issue the same reads:

  scan     every row, every column
  project  columns (doc_id, n_tok)
  source   the least frequent source
  range    200 consecutive doc ids from a third of the way in
  points   4 doc ids spread over the table
  ntok     n_tok in [median, median + 5]
  token    the token id held by the fewest docs
  tokens   the two rarest token ids plus one id no doc holds

The package is imported from the tree this script lives in, on the
driver and on the Python workers. To compare against another build, run
that build's own ``scripts/read_digest.py`` on the same OUT_DIR and diff
the two outputs (builds before the in-process runner print the same
lines from ``read_decoded``).
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow.compute as pc

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)
# workers start after this, so they import the same tree as the driver
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from poc_parquet_aggregator_spark.encode import read_decoded  # noqa: E402
from poc_parquet_aggregator_spark.encode.pipeline import (  # noqa: E402
    _plan_decode,
    _read_local,
    _read_spark,
)
from poc_parquet_aggregator_spark.plans import get_spark  # noqa: E402


def _digest(tbl) -> tuple[int, str]:
    rows = sorted(repr(tuple(r.values())) for r in tbl.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest()


def read_kinds(full) -> dict[str, dict]:
    """read_decoded arguments per read kind, derived from the full scan."""
    ids = sorted(full.column("doc_id").to_pylist())
    n = len(ids)
    src_counts = pc.value_counts(full.column("source")).to_pylist()
    source = min(src_counts, key=lambda c: (c["counts"], c["values"]))["values"]
    start = n // 3
    n_tok = full.column("n_tok").to_numpy()
    med = int(np.median(n_tok))
    tokens = full.column("tokens").combine_chunks()
    flat = tokens.flatten().to_numpy().astype(np.int64)
    doc = pc.list_parent_indices(tokens).to_numpy().astype(np.int64)
    top = int(flat.max()) + 1
    doc_freq = np.bincount(np.unique(doc * top + flat) % top, minlength=top)
    held = np.flatnonzero(doc_freq)
    rare = held[np.lexsort((held, doc_freq[held]))][:2].tolist()
    return {
        "scan": {},
        "project": {"columns": ["doc_id", "n_tok"]},
        "source": {"sources": [source]},
        "range": {"doc_id_range": (ids[start], ids[min(start + 199, n - 1)])},
        "points": {"doc_ids": [ids[(2 * i + 1) * n // 8] for i in range(4)]},
        "ntok": {"n_tok_range": (med, med + 5)},
        "token": {"contains_token": rare[0]},
        "tokens": {"contains_token": [*rare, top]},
    }


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    out_dir = sys.argv[1]
    spark = get_spark(app_name="read-digest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    full = read_decoded(spark, out_dir).toArrow()
    differ = 0
    for kind, kw in read_kinds(full).items():
        plan, names = _plan_decode(out_dir, **kw)
        got = {run.__name__: _digest(run(spark, plan, names).toArrow())
               for run in (_read_local, _read_spark)}
        (rows, digest), *_ = got.values()
        if len(set(got.values())) > 1:
            differ += 1
            for runner, (n, d) in got.items():
                print(f"RUNNERS DIFFER {kind:8s} {runner}: {n:7d} {d}", file=sys.stderr)
        print(f"{kind:8s} {rows:7d} {digest}")
    spark.stop()
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
