"""Manifest record resolution. Crash windows and the compactors' idempotent
merge can leave several records of one stem in ``_manifest/``; every read
resolves them through ``read_manifest``, which must pick one record per
stem by fixed rules: a loose JSON overrides every compacted segment, a
later segment overrides an earlier one, and within one segment the later
line wins. ``_``-prefixed JSONs are job records, not file records.

Driver-only: no Spark session. The test names are kept from when these
rules were also checked against the executor-side manifest parse."""

from __future__ import annotations

import json

from poc_parquet_aggregator_spark.encode import read_manifest


def _segment(mdir, idx, recs):
    lines = "".join(json.dumps(r) + "\n" for r in recs)
    (mdir / f"_compacted-{idx:06d}.jsonl").write_text(lines)


def test_manifest_df_precedence(tmp_path):
    """A loose JSON overrides every segment and a later segment overrides
    an earlier one; job records are not read as file records."""
    mdir = tmp_path / "_manifest"
    mdir.mkdir()
    _segment(mdir, 0, [{"file_stem": s, "v": "seg0"} for s in ("a", "b", "c")])
    _segment(mdir, 1, [{"file_stem": s, "v": "seg1"} for s in ("a", "b")])
    (mdir / "b.json").write_text(json.dumps({"file_stem": "b", "v": "loose"}))
    (mdir / "_layout.json").write_text(json.dumps({"layout": "per-file"}))
    got = {s: r["v"] for s, r in read_manifest(str(tmp_path)).items()}
    assert got == {"a": "seg1", "b": "loose", "c": "seg0"}


def test_manifest_df_same_segment_dup_last_line_wins(tmp_path):
    """Every stem written twice in one segment: the later line wins for
    each of them, and no stem is dropped or doubled."""
    mdir = tmp_path / "_manifest"
    mdir.mkdir()
    stems = [f"d-{i:05d}" for i in range(400)]
    _segment(
        mdir,
        0,
        [{"file_stem": s, "n_tok_min": 1} for s in stems]
        + [{"file_stem": s, "n_tok_min": 999} for s in stems],
    )
    got = {s: r["n_tok_min"] for s, r in read_manifest(str(tmp_path)).items()}
    assert got == dict.fromkeys(stems, 999)
