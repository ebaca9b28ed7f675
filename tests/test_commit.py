"""The manifest record is the one commit step. Encode tasks write one
fresh part file per unit, the driver writes a fresh token-filter
sidecar, then the record that names them, then deletes the stem's files
the record does not name.

A crash at every write or delete of that sequence leaves a table whose
full read and token read both answer as the old version or both as the
new one (or raise), never a mix or a subset, and a clean rerun ends in
the bytes of an uninterrupted run (``scripts/encode_digest.py``), on
each encode runner. A crash in a by-source resume also reruns to those
bytes on each runner, and one in
``compact_manifest`` never changes the records ``read_manifest`` returns.
A named file that is gone fails the read instead of dropping its rows,
and a resume redoes the record that names it, on either layout. A
by-source resume over records cut with another salt count (another
``_BUCKET_TOKENS``), or over records of another input, raises instead
of skipping buckets or serving stale ones. The records are the table's only state: a per-file encode over
by-source records raises instead of serving each row twice, a record
that declares no extra columns raises, and ``compact_encoded`` deletes
the stem dirs no record names."""

from __future__ import annotations

import importlib.util
import itertools
import json
import os
import re
import shutil
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from poc_parquet_aggregator_spark.encode import (
    compact_encoded,
    compact_manifest,
    decode_verify,
    encode_dataset,
    encode_dataset_by_source,
    read_decoded,
    read_manifest,
    salted,
)
from poc_parquet_aggregator_spark.encode import pipeline as P
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import generate_token_table

DOCS_PER_FILE = 2000
_SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "encode_digest.py")
_spec = importlib.util.spec_from_file_location("encode_digest", _SCRIPT)
encode_digest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(encode_digest)


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        "commit_tests", cores=4, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def _write(src, start: int, seed: int, n: int = DOCS_PER_FILE) -> str:
    """One input file of ``n`` docs, in several row groups."""
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, f"tokens-{start:012d}.parquet")
    tbl = generate_token_table(n, seed=seed, start_id=start)
    pq.write_table(tbl, path, compression="zstd", row_group_size=500)
    return path


def _tokens(path: str) -> set[int]:
    col = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
    return set(np.unique(col.flatten().to_numpy()).tolist())


def _state(spark, out: str, token: int):
    """(every row, the doc ids holding ``token``) as the table reads now;
    None if a read raises."""
    try:
        full = read_decoded(spark, out).select("doc_id", "n_tok", F.xxhash64("tokens"))
        hits = read_decoded(spark, out, contains_token=token, columns=["doc_id"])
        return sorted(map(tuple, full.collect())), sorted(r[0] for r in hits.collect())
    except Exception:
        return None


class _Crash(Exception):
    pass


def _crash_at(mp, k: int, out: str) -> list:
    """Make the k-th manifest-plane write or file delete under ``out``
    raise before it happens; returns the calls seen."""
    calls = []

    def wrap(fn):
        def crashing(path, *args, **kwargs):
            if str(path).startswith(out):
                calls.append(path)
                if len(calls) == k:
                    raise _Crash(path)
            return fn(path, *args, **kwargs)

        return crashing

    mp.setattr(P, "_atomic_write", wrap(P._atomic_write))
    for mod, name in ((os, "remove"), (os, "unlink"), (shutil, "rmtree")):
        mp.setattr(mod, name, wrap(getattr(mod, name)))
    return calls


def _crash_suite(tmp_path, base: str, run, state=None, wants=None) -> list:
    """For k = 1, 2, …: copy ``base``, run ``run(out)`` crashing at the
    k-th call, check ``state(out)`` is one of ``wants`` (None, a raised
    read, passes too), then rerun cleanly and compare digests with an
    uninterrupted run. Returns the index in ``wants`` of each k's state
    (None without ``state``: then only the rerun is checked)."""
    ref = str(tmp_path / "ref")
    shutil.copytree(base, ref)
    run(ref)
    digest = encode_digest.encode_digest(ref)
    seen = []
    for k in itertools.count(1):
        out = str(tmp_path / f"crash{k}")
        shutil.copytree(base, out)
        with pytest.MonkeyPatch.context() as mp:
            calls = _crash_at(mp, k, out)
            try:
                run(out)
            except _Crash:
                pass
        got = None if state is None else state(out)
        assert got is None or got in wants, k
        seen.append(None if got is None else wants.index(got))
        run(out)
        assert encode_digest.encode_digest(out) == digest, k
        shutil.rmtree(out)
        if len(calls) < k:  # the run finished before a k-th call
            return seen
    raise AssertionError("unreachable")


def test_crash_at_every_commit_step_of_a_re_encode(spark, tmp_path, encode_runners):
    """One input file changes and re-encodes, on each encode runner. Its
    old version holds a token nothing else holds: the old state returns
    its docs, the new one none. A sidecar replaced before the record (the
    old record and data with the new filter) would return the old rows
    without those docs."""
    for runner in encode_runners():
        tmp = tmp_path / runner
        src = str(tmp / "src")
        changed = _write(src, 0, seed=1)
        other = _write(src, DOCS_PER_FILE, seed=1)
        base = str(tmp / "base")
        encode_dataset(spark, src, base)
        old_tokens = _tokens(changed)
        _write(src, 0, seed=2)  # same doc ids, other tokens
        token = min(old_tokens - _tokens(changed) - _tokens(other))
        want_old = _state(spark, base, token)
        run = lambda out: encode_dataset(spark, src, out)  # noqa: E731
        ref = str(tmp / "new")
        shutil.copytree(base, ref)
        run(ref)
        want_new = _state(spark, ref, token)
        assert want_old[1] and not want_new[1] and want_old[0] != want_new[0]
        state = partial(_state, spark, token=token)
        seen = _crash_suite(tmp, base, run, state, [want_old, want_new])
        assert seen[0] == 0 and seen[-1] == 1, (runner, seen)


def test_crash_at_every_commit_step_of_a_by_source_resume(
    spark, tmp_path, encode_runners, monkeypatch
):
    """A by-source run cut after all but two buckets committed: a crash
    anywhere in its resume (sidecars, records, the deletes of the cut
    run's files) reruns to the bytes of an uninterrupted resume, on each
    encode runner. Every source is one bucket here."""
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 30)
    src = str(tmp_path / "src")
    _write(src, 0, seed=8)
    _write(src, DOCS_PER_FILE, seed=8)
    for runner in encode_runners():
        tmp = tmp_path / runner
        base = str(tmp / "base")
        encode_dataset_by_source(spark, src, base)
        for stem in ("src00_s000", "src19_s000"):
            os.remove(os.path.join(base, "_manifest", f"{stem}.json"))
        run = lambda out: encode_dataset_by_source(spark, src, out)  # noqa: E731
        seen = _crash_suite(tmp, base, run)
        assert len(seen) > 5, (runner, seen)
        assert decode_verify(spark, src, str(tmp / "ref"))["bit_identical"], runner


def test_crash_at_every_step_of_compact_manifest(spark, tmp_path):
    """A segment, loose records and a loose record overriding a segment
    one: a crash at any write or delete of the compaction leaves the same
    records, and a rerun the same digests."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=9)
    changed = _write(src, DOCS_PER_FILE, seed=9)
    base = str(tmp_path / "base")
    encode_dataset(spark, src, base)
    compact_manifest(base)
    assert _write(src, DOCS_PER_FILE, seed=10) == changed
    _write(src, 2 * DOCS_PER_FILE, seed=9)
    assert encode_dataset(spark, src, base)["files_encoded"] == 2
    want = read_manifest(base)
    seen = _crash_suite(tmp_path, base, compact_manifest, read_manifest, [want])
    assert seen == [0] * len(seen) and len(seen) > 3, seen
    assert read_manifest(str(tmp_path / "ref")) == want


def test_missing_named_part_fails_the_read(runners, spark, tmp_path):
    """Through each runner: Spark's scan fails with PATH_NOT_FOUND, the
    in-process scan with a FileNotFoundError naming the file."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=4)
    _write(src, DOCS_PER_FILE, seed=4)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    damaged, intact = (read_manifest(out)[s] for s in sorted(read_manifest(out)))
    os.remove(os.path.join(out, damaged["parts"][0]))
    error = {"spark": "PATH_NOT_FOUND", "local": os.path.basename(damaged["parts"][0])}
    rng = (intact["doc_id_min"], intact["doc_id_max"])
    for runner, read in runners.items():
        for kw in ({}, {"doc_id_range": (damaged["doc_id_min"], damaged["doc_id_max"])}):
            with pytest.raises(Exception, match=error[runner]):
                read(spark, out, **kw).count()
        # a read whose keep-list prunes the damaged file still answers
        assert read(spark, out, doc_id_range=rng).count() == DOCS_PER_FILE, runner


@pytest.mark.parametrize("layout", ["per-file", "by-source"])
def test_resume_heals_a_record_whose_named_file_is_gone(spark, tmp_path, layout):
    """One record's part file and another record's token-filter sidecar
    are deleted: reads raise, and a rerun redoes exactly those two
    records (per-file: their stems re-encode; by-source: the scan runs
    and their buckets are redone). Then every source row reads back, a
    token read answers exactly and ``decode_verify`` is bit-identical."""
    src = str(tmp_path / "src")
    paths = [_write(src, 0, seed=6), _write(src, DOCS_PER_FILE, seed=6)]
    out = str(tmp_path / "enc")
    encode = encode_dataset if layout == "per-file" else encode_dataset_by_source
    encode(spark, src, out)
    records = read_manifest(out)
    part_stem = sorted(records)[0]
    filt_stem = min(s for s, r in records.items() if "tok_filter" in r and s != part_stem)
    os.remove(os.path.join(out, records[part_stem]["parts"][0]))
    os.remove(os.path.join(out, records[filt_stem]["tok_filter"]))
    with pytest.raises(Exception, match="part-"):
        read_decoded(spark, out).count()

    metrics = encode(spark, src, out)
    redone = {s for s, r in read_manifest(out).items() if r != records[s]}
    assert redone == {part_stem, filt_stem}, redone
    if layout == "per-file":
        assert (metrics["files_encoded"], metrics["files_skipped"]) == (2, 0)
    else:
        skipped, total = metrics["buckets_skipped"], metrics["buckets_total"]
        assert (skipped, total) == (len(records) - 2, len(records))
    source = pa.concat_tables([pq.read_table(p) for p in paths])
    got = read_decoded(spark, out).toArrow().select(source.column_names)
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == sorted(
        tuple(r.values()) for r in source.to_pylist())
    token = source.column("tokens")[7].as_py()[0]
    hits = read_decoded(spark, out, contains_token=token, columns=["doc_id"]).toArrow()
    want = [d for d, t in zip(source["doc_id"].to_pylist(), source["tokens"].to_pylist())
            if token in t]
    assert sorted(hits["doc_id"].to_pylist()) == sorted(want)
    assert decode_verify(spark, src, out)["bit_identical"]


def test_by_source_resume_with_other_n_salts_raises(spark, tmp_path, monkeypatch):
    """A run whose build sized buckets at 2^14 tokens, cut after the
    buckets of salts 0-3 committed, resumed by a build that sizes them
    at 2^16: the new buckets s000 and s001 of each source are among the
    committed ones, so the resume would skip rows. It raises, naming
    both salt counts; the first build's resume completes the table."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=5)
    _write(src, DOCS_PER_FILE, seed=5)
    out = str(tmp_path / "enc")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 14)
    encode_dataset_by_source(spark, src, out)
    first, tokens = {}, {}
    for stem, rec in read_manifest(out).items():
        first[rec["source"]] = rec["n_salts"]
        tokens[rec["source"]] = tokens.get(rec["source"], 0) + rec["n_tokens"]
        if rec["salt"] >= 4:
            os.remove(os.path.join(out, "_manifest", f"{stem}.json"))
    assert max(first.values()) > 4
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 16)
    with pytest.raises(ValueError, match="fresh out_dir") as e:
        encode_dataset_by_source(spark, src, out)
    source, committed, now = re.search(
        r"bucket '(\w+)_s\d+' was committed with n_salts=(\d+).*n_salts=(\d+)", str(e.value)
    ).groups()
    assert int(committed) == first[source] != int(now) == -(-tokens[source] // (1 << 16))
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 14)
    m = encode_dataset_by_source(spark, src, out)
    assert m["n_docs"] == 2 * DOCS_PER_FILE
    assert decode_verify(spark, src, out)["bit_identical"]


def test_by_source_re_encode_after_an_input_change_raises(spark, tmp_path, monkeypatch):
    """Every src19 row leaves the input after a by-source encode. A
    re-run into the same out_dir would keep serving the src19 buckets of
    the old input next to the new rows, so it raises; a fresh out_dir
    encodes the new input."""
    src = str(tmp_path / "src")
    paths = [_write(src, 0, seed=6), _write(src, DOCS_PER_FILE, seed=6)]
    out = str(tmp_path / "enc")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 18)
    encode_dataset_by_source(spark, src, out)
    assert "src19_s000" in read_manifest(out)
    for p in paths:
        tbl = pq.read_table(p)
        pq.write_table(tbl.filter(pc.not_equal(tbl.column("source"), "src19")), p)
    with pytest.raises(ValueError, match=r"bucket '\w+_s00\d'.*another input.*fresh out_dir"):
        encode_dataset_by_source(spark, src, out)
    fresh = str(tmp_path / "fresh")
    m = encode_dataset_by_source(spark, src, fresh)
    n_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    assert m["n_docs"] == n_rows < 2 * DOCS_PER_FILE
    assert read_decoded(spark, fresh).count() == n_rows


def test_per_file_encode_over_by_source_records_raises(spark, tmp_path, monkeypatch):
    """A per-file encode into a by-source out_dir would commit every row a
    second time under its file stem, and reads would serve each doc
    twice: it raises before any task runs, and the table still reads
    each doc once."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=11)
    out = str(tmp_path / "enc")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 18)
    encode_dataset_by_source(spark, src, out)
    before = read_manifest(out)
    with pytest.raises(ValueError, match=r"by-source: True.*by-source: False.*fresh out_dir"):
        encode_dataset(spark, src, out)
    assert read_manifest(out) == before
    ids = [r[0] for r in read_decoded(spark, out, columns=["doc_id"]).collect()]
    assert len(ids) == len(set(ids)) == DOCS_PER_FILE


def test_pre_change_record_raises_re_encode(spark, tmp_path):
    """A record that declares no extra columns (written before records
    did) makes reads raise "re-encode", and an encode job over it raise
    "fresh out_dir": its chunks' extras container is not the one the
    decoder parses."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=12)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    ((stem, rec),) = read_manifest(out).items()
    del rec["extras"]
    with open(os.path.join(out, "_manifest", f"{stem}.json"), "w") as f:
        json.dump(rec, f)
    with pytest.raises(ValueError, match="re-encode"):
        read_decoded(spark, out)
    _write(src, DOCS_PER_FILE, seed=12)
    with pytest.raises(ValueError, match="fresh out_dir"):
        encode_dataset(spark, src, out)


def test_compact_encoded_sweeps_unrecorded_stem_dirs(spark, tmp_path):
    """A stem dir no record names (its first encode crashed before the
    record, and its input is gone) is deleted by ``compact_encoded``;
    reads are unchanged."""
    src = str(tmp_path / "src")
    _write(src, 0, seed=13)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    (rec,) = read_manifest(out).values()
    orphan = os.path.join(out, "data", "tokens-gone")
    os.makedirs(orphan)
    shutil.copy(os.path.join(out, rec["parts"][0]), os.path.join(orphan, "part-0.parquet"))
    want = _state(spark, out, token=0)
    stats = compact_encoded(out)
    assert not os.path.exists(orphan)
    assert stats["stems_swept"] == 1
    assert sorted(os.listdir(os.path.join(out, "data"))) == [rec["file_stem"]]
    assert _state(spark, out, token=0) == want
