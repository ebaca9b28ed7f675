"""The decode kernel alone returns a read's exact rows: ``_make_decode_fn``
run in-process over every chunk row of an encoded dir (no file pruning in
front of it) equals ``read_decoded`` for every read kind. The kernel's
chunk tests are the production ones: it is the only place a chunk row is
pruned, and it never parses the blobs of a chunk its zones exclude. This
is the contract a runner other than Spark's ``mapInArrow`` relies on.
Every read kind, pruned, returns the rows pyarrow computes from the input
table through each runner (in-process and ``mapInArrow``), on both
layouts and for input file names Spark percent-encodes. Also the
read-argument contracts: empty id, source and column lists raise, a
by-source read keeps exactly the buckets whose record carries a wanted
``source``, and ``read_decoded`` picks its runner from the kept bytes."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from poc_parquet_aggregator_spark.encode import (
    encode_dataset,
    encode_dataset_by_source,
    plan_read,
    read_decoded,
    read_manifest,
)
from poc_parquet_aggregator_spark.encode import pipeline, salted
from poc_parquet_aggregator_spark.encode.pipeline import (
    _ENC_ARROW_SCHEMA,
    _decoded_arrow_schema,
    _make_decode_fn,
)
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import generate_token_table

N_DOCS = 4000
DOCS_PER_FILE = 1000


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        "read_kernel_tests", cores=4, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


@pytest.fixture(scope="module")
def table():
    """The token table plus one int32 extra column, so the kernel's
    extras path is exercised too."""
    base = generate_token_table(N_DOCS, seed=11)
    return base.append_column("lang", pa.array(np.arange(N_DOCS, dtype=np.int32) % 7))


def _write_files(table, src, name="tokens"):
    os.makedirs(src, exist_ok=True)
    for start in range(0, N_DOCS, DOCS_PER_FILE):
        pq.write_table(
            table.slice(start, DOCS_PER_FILE), os.path.join(src, f"{name}-{start:012d}.parquet")
        )


@pytest.fixture(scope="module")
def src_dir(table, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("tokens"))
    _write_files(table, src)
    return src


@pytest.fixture(scope="module")
def enc_dir(spark, src_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "out")
    encode_dataset(spark, src_dir, out)
    return out


@pytest.fixture(scope="module")
def salted_dir(spark, src_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_salted") / "out")
    # 2^14-token buckets: the head source is cut into ~36 salts, the
    # other sources into one or two
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(salted, "_BUCKET_TOKENS", 1 << 14)
        encode_dataset_by_source(spark, src_dir, out)
    return out


def _read_kinds(table) -> dict[str, dict]:
    ids = table.column("doc_id").to_pylist()
    tokens = table.column("tokens").combine_chunks()
    flat = tokens.flatten().to_numpy().astype(np.int64)
    doc = pc.list_parent_indices(tokens).to_numpy().astype(np.int64)
    top = int(flat.max()) + 1
    doc_freq = np.bincount(np.unique(doc * top + flat) % top, minlength=top)
    held = np.flatnonzero(doc_freq)
    rare = held[np.lexsort((held, doc_freq[held]))][:2].tolist()
    return {
        "sources": {"sources": ["src03", "src07"]},
        # the tail of file 0, all of file 1 and the head of file 2
        "range": {"doc_id_range": (ids[900], ids[2100])},
        "points": {"doc_ids": [ids[5], ids[1500], ids[N_DOCS - 1], "doc-absent"]},
        "n_tok": {"n_tok_range": (100, 140)},
        "token": {"contains_token": rare[0]},
        "token_list": {"contains_token": [*rare, top]},
        "projection": {"columns": ["doc_id", "lang"]},
    }


def _all_read_kinds(table) -> dict[str, dict]:
    """``_read_kinds`` plus a token no document holds and all three file
    zones (doc_id, n_tok, token) at once."""
    kinds = _read_kinds(table)
    ids = table.column("doc_id").to_pylist()
    absent = kinds["token_list"]["contains_token"][-1]
    common = int(np.bincount(table.column("tokens").combine_chunks().flatten().to_numpy()).argmax())
    return {
        **kinds,
        "absent": {"contains_token": absent},
        "combined": {
            "doc_id_range": (ids[500], ids[3500]),
            "n_tok_range": (60, 200),
            "contains_token": [kinds["token"]["contains_token"], common],
        },
    }


def _truth(table, kw) -> "pa.Table":
    """The rows and columns a read returns, computed with pyarrow alone."""
    mask = np.ones(table.num_rows, dtype=bool)
    if "sources" in kw:
        mask &= pc.is_in(table["source"], pa.array(kw["sources"])).to_numpy()
    if "doc_id_range" in kw:
        lo, hi = kw["doc_id_range"]
        mask &= pc.and_(pc.greater_equal(table["doc_id"], lo),
                        pc.less_equal(table["doc_id"], hi)).to_numpy()
    if "doc_ids" in kw:
        mask &= pc.is_in(table["doc_id"], pa.array(kw["doc_ids"])).to_numpy()
    if "n_tok_range" in kw:
        lo, hi = kw["n_tok_range"]
        mask &= pc.and_(pc.greater_equal(table["n_tok"], lo),
                        pc.less_equal(table["n_tok"], hi)).to_numpy()
    if "contains_token" in kw:
        ids = np.atleast_1d(kw["contains_token"])
        tokens = table.column("tokens").combine_chunks()
        doc = pc.list_parent_indices(tokens).to_numpy()
        hit = np.isin(tokens.flatten().to_numpy(), ids)
        mask &= np.bincount(doc[hit], minlength=table.num_rows) > 0
    return table.filter(pa.array(mask)).select(kw.get("columns") or table.column_names)


def _rows(tbl) -> list[tuple]:
    return sorted(tuple(r.values()) for r in tbl.to_pylist())


def _assert_reads_match_truth(runners, spark, table, out):
    for kind, kw in _all_read_kinds(table).items():
        want = _truth(table, kw)
        for runner, read in runners.items():
            got = read(spark, out, **kw).toArrow()
            assert got.column_names == want.column_names, (runner, kind)
            assert _rows(got) == _rows(want), (runner, kind)
        assert want.num_rows or kind == "absent", kind


def test_kernel_alone_returns_exact_rows(spark, table, enc_dir):
    """Every chunk row of every record through the kernel, with no file
    pruning in front of it: the kernel's own chunk tests (zones, bitmap)
    and row tests give ``read_decoded``'s rows."""
    chunks = pa.concat_tables([
        pq.read_table(os.path.join(enc_dir, p))
        for rec in read_manifest(enc_dir).values()
        for p in rec["parts"]
    ])
    states: dict[str, set] = {}
    for kind, kw in _read_kinds(table).items():
        plan = plan_read(
            enc_dir,
            **{"tok_ids" if k == "contains_token" else k: v for k, v in kw.items() if k != "columns"},
        )
        columns = kw.get("columns") or _decoded_arrow_schema(plan.extras).names
        fn = _make_decode_fn(plan, columns)
        got, states[kind] = [], set()
        for i in range(chunks.num_rows):
            chunk = chunks.slice(i, 1)
            out = [b for b in fn(iter(chunk.to_batches())) if b.num_rows]
            n_out, n_docs = sum(b.num_rows for b in out), chunk.column("n_docs")[0].as_py()
            states[kind].add("none" if n_out == 0 else "all" if n_out == n_docs else "part")
            got += out
        want = read_decoded(spark, enc_dir, **kw).toArrow()
        assert want.column_names == columns, kind
        assert _rows(pa.Table.from_batches(got, want.schema)) == _rows(want), kind
        assert want.num_rows, kind
    assert states["range"] == {"none", "part", "all"}, states
    assert states["projection"] == {"all"}, states


def test_partly_kept_chunks_decode_only_their_kept_rows(table, enc_dir, monkeypatch):
    """Point, range, ``n_tok`` and token reads test their rows on the
    encoded token chunk and decode tokens for the kept rows only: over
    chunks each read keeps in part, the kernel never calls
    ``decode_token_chunk`` and still returns the exact rows. A full
    scan keeps whole chunks and does call it, so the counter sees the
    kernel's calls."""
    calls = []
    real = pipeline.decode_token_chunk
    monkeypatch.setattr(pipeline, "decode_token_chunk", lambda c: calls.append(c) or real(c))
    chunks = pa.concat_tables([
        pq.read_table(os.path.join(enc_dir, p))
        for rec in read_manifest(enc_dir).values()
        for p in rec["parts"]
    ])
    ids = table.column("doc_id").to_pylist()
    kinds = _read_kinds(table)
    for kind, kw in {
        "points": kinds["points"],
        "range": {"doc_id_range": (ids[100], ids[300])},
        "n_tok": kinds["n_tok"],
        "token": kinds["token"],
        "token_list": kinds["token_list"],
    }.items():
        plan = plan_read(enc_dir, **{"tok_ids" if k == "contains_token" else k: v
                                     for k, v in kw.items()})
        want = _truth(table, kw)
        fn = _make_decode_fn(plan, want.column_names)
        got, kept = [], set()
        for i in range(chunks.num_rows):
            chunk = chunks.slice(i, 1)
            out = list(fn(iter(chunk.to_batches())))
            n_out = sum(b.num_rows for b in out)
            kept.add("none" if n_out == 0 else "all" if n_out == chunk.column("n_docs")[0].as_py()
                     else "part")
            got += out
        assert "part" in kept and "all" not in kept, (kind, kept)
        assert calls == [], kind
        schema = _decoded_arrow_schema(plan.extras, want.column_names)
        assert _rows(pa.Table.from_batches(got, schema)) == _rows(want), kind
    fn = _make_decode_fn(plan_read(enc_dir), ["doc_id", "tokens"])
    assert sum(b.num_rows for b in fn(iter(chunks.to_batches()))) == N_DOCS
    assert len(calls) == chunks.num_rows


_GARBAGE = b"\xfe not a blob"


def _garbage_chunk(**zone) -> pa.RecordBatch:
    """One chunk row whose blobs cannot be parsed, with the zone bounds
    ``zone`` (missing ones NULL) and no membership bitmap."""
    row = {f: zone.get(f) for f in ("doc_id_min", "doc_id_max", "n_tok_min",
                                    "n_tok_max", "tok_min", "tok_max")}
    row |= {b: _GARBAGE for b in ("doc_id_blob", "source_blob", "tokens_blob", "extras_blob")}
    return pa.RecordBatch.from_pylist([{**row, "tok_filter": None}], schema=_ENC_ARROW_SCHEMA)


@pytest.mark.parametrize("kw", [
    {"doc_id_range": ("doc-000000000000", "doc-000000000099")},
    {"n_tok_range": (1, 50)},
    {"tok_ids": 5},
], ids=["doc_id_range", "n_tok_range", "contains_token"])
def test_kernel_never_parses_a_chunk_its_zones_exclude(enc_dir, kw):
    """A chunk whose zones lie outside the read yields nothing and raises
    nothing, though its blobs are garbage: the zone test runs before any
    blob is parsed. A chunk with NULL bounds is kept, so its garbage is
    parsed and raises."""
    columns = _decoded_arrow_schema([]).names
    fn = _make_decode_fn(plan_read(enc_dir, **kw), columns)
    outside = _garbage_chunk(doc_id_min="zzz-0", doc_id_max="zzz-9", n_tok_min=1_000_000,
                             n_tok_max=1_000_005, tok_min=100_000_000, tok_max=100_000_001)
    assert list(fn(iter([outside]))) == []
    with pytest.raises(ValueError):
        list(fn(iter([_garbage_chunk()])))


@pytest.mark.parametrize("layout", ["per-file", "by-source"])
def test_reads_match_pyarrow_truth(runners, spark, table, enc_dir, salted_dir, layout):
    """Every read kind, file- and chunk-pruned, on both layouts, through
    each runner. Every read carries the driver keep-list and its funnel."""
    out = enc_dir if layout == "per-file" else salted_dir
    _assert_reads_match_truth(runners, spark, table, out)
    kinds = _all_read_kinds(table)
    records = read_manifest(out)
    for kind, kw in kinds.items():
        plan = plan_read(out, **{"tok_ids" if k == "contains_token" else k: v
                                 for k, v in kw.items() if k != "columns"})
        assert plan.funnel["files_kept"] == len(plan.stems), kind
        assert plan.funnel["bytes_kept"] == sum(records[s]["bytes_out"] for s in plan.stems)
    # a read without a filter keeps every record
    full = plan_read(out)
    assert len(full.stems) == full.funnel["files_kept"] == full.funnel["files_total"] > 0
    assert plan_read(out, tok_ids=kinds["absent"]["contains_token"]).stems == {}


def test_percent_encoded_input_file_names(runners, encode_runners, spark, table, tmp_path):
    """A space or a ``%`` in an input name maps to its own stem, through
    the batch encode and the stream, on each encode runner: both runners
    get file paths, never a percent-encoded URI. A by-source bucket stem
    with a ``%`` and glob metacharacters reads back exactly through each
    read runner: part paths are literal."""
    from poc_parquet_aggregator_spark.streaming import encode_stream

    src = str(tmp_path / "src")
    _write_files(table, src, name="tok en")
    pct = str(tmp_path / "pct")
    os.makedirs(pct)
    sub = table.slice(0, 400)
    sub = sub.set_column(
        sub.schema.get_field_index("source"), "source",
        pa.array(["a%41[1]{2}"] * sub.num_rows, pa.string()),
    )
    pq.write_table(sub, os.path.join(pct, "x%41.parquet"))
    for encoder in encode_runners():
        for encode in (encode_dataset, encode_stream):
            out = str(tmp_path / f"{encoder}-{encode.__name__}")
            encode(spark, src, out)
            _assert_reads_match_truth(runners, spark, table, out)

        out = str(tmp_path / f"{encoder}-pct_out")
        encode_dataset(spark, pct, out)
        assert list(read_manifest(out)) == ["x%41"]
        by_source = str(tmp_path / f"{encoder}-pct_salted")
        encode_dataset_by_source(spark, pct, by_source)
        assert list(read_manifest(by_source)) == ["a%41[1]{2}_s000"]
        for (runner, read), enc in itertools.product(runners.items(), (out, by_source)):
            for kw in ({}, {"sources": ["a%41[1]{2}"]}, {"sources": ["a%41[1]{2}", "A"]}):
                assert _rows(read(spark, enc, **kw).toArrow()) == _rows(sub), (encoder, runner, enc, kw)
            assert read(spark, enc, sources=["aA[1]{2}"]).count() == 0, (encoder, runner)


@pytest.mark.parametrize("arg", ["doc_ids", "sources", "columns"])
def test_empty_list_arguments_raise(spark, enc_dir, arg):
    with pytest.raises(ValueError, match=f"{arg} list must be non-empty"):
        read_decoded(spark, enc_dir, **{arg: []})


def test_by_source_prefix_matches_whole_source(runners, spark, tmp_path, monkeypatch):
    """Source ``a`` must not keep the buckets of source ``ab``."""
    base = generate_token_table(1200, seed=13)
    source = np.where(np.arange(base.num_rows) % 3 == 0, "a", "ab")
    tbl = base.set_column(
        base.schema.get_field_index("source"), "source", pa.array(source, pa.string())
    )
    src = tmp_path / "tokens"
    src.mkdir()
    pq.write_table(tbl.slice(0, 600), str(src / "tokens-000000000000.parquet"))
    pq.write_table(tbl.slice(600), str(src / "tokens-000000000600.parquet"))
    out = str(tmp_path / "enc")
    # buckets of half of a's tokens: a is cut into two salts, ab into more
    tokens_a = pc.sum(tbl.filter(pa.array(source == "a")).column("n_tok")).as_py()
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", -(-tokens_a // 2))
    encode_dataset_by_source(spark, str(src), out)
    plan = plan_read(out, sources=["a"])
    assert sorted(plan.stems) == ["a_s000", "a_s001"]
    records = read_manifest(out)
    assert len(records) > 4
    assert plan.funnel == {"files_total": len(records), "files_zone_pruned": 0,
                           "files_source_pruned": len(records) - 2,
                           "files_filter_pruned": 0, "files_kept": 2,
                           "bytes_kept": sum(records[s]["bytes_out"] for s in plan.stems)}
    want = [(d, "a") for d, s in zip(tbl.column("doc_id").to_pylist(), source) if s == "a"]
    for runner, read in runners.items():
        df = read(spark, out, sources=["a"], columns=["doc_id", "source"])
        assert _rows(df.toArrow()) == sorted(want), runner


def test_read_decoded_picks_the_runner_from_kept_bytes(spark, enc_dir, monkeypatch):
    """``read_decoded`` runs the kernel in-process when the kept records
    hold at most ``_LOCAL_READ_BYTES`` encoded bytes and in a
    ``mapInArrow`` job above it, and records the choice in the funnel
    next to the bytes that made it."""
    records = read_manifest(enc_dir)
    stem = sorted(records)[1]
    rng = (records[stem]["doc_id_min"], records[stem]["doc_id_max"])
    kept = records[stem]["bytes_out"]
    assert 0 < kept <= pipeline._LOCAL_READ_BYTES  # the test table reads in-process
    plans = []
    real = pipeline.plan_read
    monkeypatch.setattr(pipeline, "plan_read", lambda *a, **kw: plans.append(real(*a, **kw)) or plans[-1])
    for limit, runner in ((pipeline._LOCAL_READ_BYTES, "local"), (kept, "local"),
                          (kept - 1, "spark")):
        monkeypatch.setattr(pipeline, "_LOCAL_READ_BYTES", limit)
        df = read_decoded(spark, enc_dir, doc_id_range=rng)
        assert plans[-1].funnel == {"files_total": N_DOCS // DOCS_PER_FILE, "files_zone_pruned": 3,
                                    "files_source_pruned": 0, "files_filter_pruned": 0,
                                    "files_kept": 1, "bytes_kept": kept, "runner": runner}
        has_job = "MapInArrow" in df._jdf.queryExecution().optimizedPlan().toString()
        assert has_job == (runner == "spark"), runner
        assert df.count() == DOCS_PER_FILE
