"""Distributed manifest pruning: once the manifest outgrows
MANIFEST_JOIN_BYTES, read_decoded prunes files with the filter-manifest
semi-join instead of the driver keep-list. Both paths render the same
``plan_read`` predicates, so they must keep the same stems and produce
exactly the same rows for every file-level prune kind (doc_id range,
n_tok range, token content, combined) on both layouts; `manifest_df`
must reproduce read_manifest's precedence (loose JSON overrides any
compacted segment; later segment overrides earlier). Tests force the
join path by shrinking MANIFEST_JOIN_BYTES."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import poc_parquet_aggregator_spark.encode.pipeline as pl
from poc_parquet_aggregator_spark.encode import (
    compact_manifest,
    encode_dataset,
    encode_dataset_by_source,
    manifest_df,
    plan_read,
    read_decoded,
    read_manifest,
)
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import write_token_table

N_DOCS = 6000
DOCS_PER_FILE = 1500


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test-manifest-join")


@pytest.fixture(scope="module")
def token_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tokens")
    write_token_table(str(d), N_DOCS, seed=31, docs_per_file=DOCS_PER_FILE)
    return str(d)


@pytest.fixture(scope="module")
def enc_dir(spark, token_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "out")
    encode_dataset(spark, token_dir, out)
    return out


@pytest.fixture(scope="module")
def salted_dir(spark, token_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_salted") / "out")
    encode_dataset_by_source(spark, token_dir, out, n_salts=2)
    return out


def _rows(df):
    return [tuple(r) for r in df.select("doc_id", "n_tok").orderBy("doc_id").collect()]


def _rare_token(token_dir):
    per_file = []
    for f in sorted(glob.glob(os.path.join(token_dir, "*.parquet"))):
        t = pq.read_table(f, columns=["tokens"])
        vals = np.concatenate(
            [c.flatten().to_numpy(zero_copy_only=False) for c in t.column("tokens").chunks]
        )
        per_file.append(set(np.unique(vals).tolist()))
    everywhere = set().union(*per_file)
    return next(t for t in sorted(everywhere) if sum(t in s for s in per_file) == 1)


def _both_paths(spark, out, monkeypatch, **kwargs):
    """(driver rows, join rows) of one read; also asserts that the join
    path's surviving stems are exactly plan_read's driver keep-list."""
    plan_kw = {"tok_ids" if k == "contains_token" else k: v for k, v in kwargs.items()}
    drv_plan = plan_read(out, **plan_kw)
    drv = _rows(read_decoded(spark, out, **kwargs))
    monkeypatch.setattr(pl, "MANIFEST_JOIN_BYTES", -1)
    jn_plan = plan_read(out, **plan_kw)
    assert drv_plan.stems is not None and jn_plan.stems is None
    jn_stems = sorted(r[0] for r in pl._keep_stems_df(spark, jn_plan).collect())
    assert jn_stems == sorted(drv_plan.stems)
    jn = _rows(read_decoded(spark, out, **kwargs))
    monkeypatch.undo()
    return drv, jn


_PRUNES = {
    "doc_id_range": {"doc_id_range": ("doc-000000000100", "doc-000000000400")},
    "n_tok_range": {"n_tok_range": (40, 90)},
    "doc_ids": {"doc_ids": ["doc-000000000123", "doc-000000004567"]},
}


@pytest.mark.parametrize(
    "case",
    [*_PRUNES, *(f"{k}-salted" for k in _PRUNES)],
)
def test_join_path_equals_driver_path(spark, enc_dir, salted_dir, monkeypatch, case):
    name, _, layout = case.partition("-")
    out = salted_dir if layout == "salted" else enc_dir
    drv, jn = _both_paths(spark, out, monkeypatch, **_PRUNES[name])
    assert jn == drv and drv


def test_join_path_token_content(spark, token_dir, enc_dir, monkeypatch):
    rare = _rare_token(token_dir)
    for arg in (rare, [rare, 59_999]):
        drv, jn = _both_paths(spark, enc_dir, monkeypatch, contains_token=arg)
        assert jn == drv and drv
    # absent id: the sidecar probe prunes every file in BOTH paths
    drv, jn = _both_paths(spark, enc_dir, monkeypatch, contains_token=59_999)
    assert drv == jn == []


def test_join_path_combined_prunes(spark, token_dir, enc_dir, monkeypatch):
    rare = _rare_token(token_dir)
    drv, jn = _both_paths(
        spark, enc_dir, monkeypatch,
        doc_id_range=("doc-000000000000", "doc-000000005999"),
        n_tok_range=(1, 10_000),
        contains_token=rare,
    )
    assert jn == drv and drv


def test_manifest_df_matches_read_manifest(spark, enc_dir):
    recs = read_manifest(enc_dir)
    rows = {r["file_stem"]: r.asDict() for r in manifest_df(spark, enc_dir).collect()}
    assert set(rows) == set(recs)
    for stem, rec in recs.items():
        for k in ("doc_id_min", "doc_id_max", "n_tok_min", "n_tok_max", "tok_min", "tok_max"):
            assert rows[stem][k] == rec.get(k), (stem, k)


def test_manifest_df_precedence(spark, token_dir, tmp_path):
    """Loose JSON overrides a compacted segment; later segment overrides
    earlier — same resolution as read_manifest, asserted on a manifest
    with deliberate stale duplicates (the crash-window shape the
    compactors' idempotent-merge contract allows)."""
    out = str(tmp_path / "enc")
    spark2 = get_spark(app_name="test-manifest-join")
    encode_dataset(spark2, token_dir, out)
    compact_manifest(out)  # all records now in segment 0
    mdir = os.path.join(out, "_manifest")
    segs = sorted(glob.glob(os.path.join(mdir, "_compacted-*.jsonl")))
    assert len(segs) == 1
    recs = read_manifest(out)
    stems = sorted(recs)
    # a LATER segment carrying a stale-dup of stem[0] with a sentinel bound
    with open(os.path.join(mdir, "_compacted-000001.jsonl"), "w") as f:
        dup = dict(recs[stems[0]])
        dup["n_tok_min"] = 111_111
        f.write(json.dumps(dup) + "\n")
    # a LOOSE record for stem[1] with a different sentinel
    loose = dict(recs[stems[1]])
    loose["n_tok_min"] = 222_222
    with open(os.path.join(mdir, f"{stems[1]}.json"), "w") as f:
        json.dump(loose, f)
    drv = read_manifest(out)
    dist = {r["file_stem"]: r.asDict() for r in manifest_df(spark2, out).collect()}
    assert drv[stems[0]]["n_tok_min"] == 111_111 == dist[stems[0]]["n_tok_min"]
    assert drv[stems[1]]["n_tok_min"] == 222_222 == dist[stems[1]]["n_tok_min"]
    assert len(dist) == len(drv) == len(stems)


def test_manifest_df_same_segment_dup_last_line_wins(spark, tmp_path, monkeypatch):
    """Duplicate stems WITHIN one segment (equal _prio) must resolve
    last-line-wins, byte-for-byte like read_manifest, at every split-
    boundary placement — the r6-ADVICE nondeterministic-tie fix (the
    window now carries the record's line-start offset as a secondary
    key, so ties cannot fall to hash-partition luck)."""
    out = str(tmp_path / "m2")
    os.makedirs(os.path.join(out, "_manifest"))
    n = 400
    with open(os.path.join(out, "_manifest", "_compacted-000000.jsonl"), "w") as f:
        for i in range(n):
            # every stem written twice in one segment; later line carries
            # the sentinel that must win
            stem = f"d-{i:05d}"
            f.write(json.dumps({"file_stem": stem, "n_tok_min": 1}) + "\n")
        for i in range(n):
            stem = f"d-{i:05d}"
            f.write(json.dumps({"file_stem": stem, "n_tok_min": 999}) + "\n")
    for split in (64, 257, 1 << 30):
        monkeypatch.setattr(pl, "MANIFEST_SPLIT_BYTES", split)
        rows = manifest_df(spark, out).select("file_stem", "n_tok_min").collect()
        assert len(rows) == n, split
        assert all(r["n_tok_min"] == 999 for r in rows), split
        exp = {s: r["n_tok_min"] for s, r in read_manifest(out).items()}
        assert {r["file_stem"]: r["n_tok_min"] for r in rows} == exp, split


def test_manifest_df_byte_range_split_alignment(spark, tmp_path, monkeypatch):
    """The line-aligned byte-range split logic must never duplicate or
    drop a record wherever the split boundary lands: shrink the split
    size so a small segment parses through MANY splits (boundaries land
    mid-line, on line starts, and at EOF across the sweep) and assert
    exact record identity vs the driver reader."""
    out = str(tmp_path / "m")
    os.makedirs(os.path.join(out, "_manifest"))
    rng = np.random.default_rng(7)
    n = 3000
    with open(os.path.join(out, "_manifest", "_compacted-000000.jsonl"), "w") as f:
        for i in range(n):
            f.write(
                json.dumps(
                    {
                        "file_stem": f"s-{i:06d}",
                        "n_tok_min": int(rng.integers(1, 100)),
                        "pad": "x" * int(rng.integers(0, 120)),  # vary line length
                    }
                )
                + "\n"
            )
    for split in (64, 257, 4096, 1 << 30):
        monkeypatch.setattr(pl, "MANIFEST_SPLIT_BYTES", split)
        rows = manifest_df(spark, out).select("file_stem", "n_tok_min").collect()
        got = {r["file_stem"]: r["n_tok_min"] for r in rows}
        exp = {s: r["n_tok_min"] for s, r in read_manifest(out).items()}
        assert len(rows) == n and got == exp, split
