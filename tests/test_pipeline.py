"""End-to-end encode pipeline tests: bit-identical decode, compressed-size
bar (≤ Parquet zstd), exact resume under fault injection, salted
source-partitioned mode. Mirrors the reference's expected-results oracle
discipline (/root/reference/src/expected_results.py:309-431) at pipeline
granularity. Run: python -m pytest -x -q
"""

import itertools
import json
import os
import shutil

import pytest

from poc_parquet_aggregator_spark.encode import (
    decode_verify,
    encode_dataset,
    encode_dataset_by_source,
    plan_read,
    read_manifest,
    salted,
)
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import write_token_table

N_DOCS = 6000
DOCS_PER_FILE = 2000


@pytest.fixture(scope="module")
def spark():
    s = get_spark(
        "pipeline_tests",
        cores=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="module")
def token_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tokens")
    write_token_table(str(d), N_DOCS, docs_per_file=DOCS_PER_FILE)
    return str(d)


def test_encode_decode_bit_identical_and_ratio(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc")
    m = encode_dataset(spark, token_dir, out)
    assert m["files_encoded"] == N_DOCS // DOCS_PER_FILE
    # north rule bar: compressed bytes ≤ reference Parquet(zstd) bytes
    assert m["ratio_vs_parquet_zstd"] <= 1.0
    v = decode_verify(spark, token_dir, out)
    assert v["bit_identical"], v


def test_resume_skips_committed_and_is_deterministic(spark, token_dir, tmp_path, encode_runners):
    for runner in encode_runners():
        out = str(tmp_path / runner)
        m1 = encode_dataset(spark, token_dir, out)
        manifest1 = read_manifest(out)
        # full resume: nothing re-encoded
        m2 = encode_dataset(spark, token_dir, out)
        assert m2["files_encoded"] == 0
        assert m2["files_skipped"] == m1["files_total"]
        # fault injection: lose one manifest record → exactly one file re-encoded
        stems = sorted(manifest1)
        os.remove(os.path.join(out, "_manifest", f"{stems[0]}.json"))
        blobs1 = _named_blobs(out, manifest1[stems[0]])
        m3 = encode_dataset(spark, token_dir, out)
        assert m3["files_encoded"] == 1
        # determinism: re-encoded record identical (checksum, bytes, codecs)
        # apart from its time and fresh file names; the files it names hold
        # the same bytes
        manifest2 = read_manifest(out)
        assert _without_names(manifest1[stems[0]]) == _without_names(manifest2[stems[0]])
        assert _named_blobs(out, manifest2[stems[0]]) == blobs1
        assert decode_verify(spark, token_dir, out)["bit_identical"], runner


def _without_names(rec: dict) -> dict:
    return {k: v for k, v in rec.items() if k not in ("committed_at", "parts", "tok_filter")}


def _named_blobs(out: str, rec: dict) -> tuple:
    """sha256 of every blob cell of the record's parts, then of its sidecar."""
    import hashlib

    import pyarrow.parquet as pq

    cols = ["doc_id_blob", "source_blob", "tokens_blob", "extras_blob", "tok_filter"]
    cells = [
        hashlib.sha256(v or b"").hexdigest()
        for p in rec["parts"]
        for c in cols
        for v in pq.read_table(os.path.join(out, p), columns=[c]).column(c).to_pylist()
    ]
    with open(os.path.join(out, rec["tok_filter"]), "rb") as f:
        return sorted(cells), hashlib.sha256(f.read()).hexdigest()


def test_stale_parts_deleted_by_commit(spark, token_dir, tmp_path):
    """Files a crashed run left in a stem's data dir are not in the table
    (reads scan only the files records name) and are deleted when the
    stem next commits."""
    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    stems = sorted(read_manifest(out))
    junk = os.path.join(out, "data", stems[0], "part-junk.parquet")
    with open(junk, "w") as f:
        f.write("junk")
    assert decode_verify(spark, token_dir, out)["bit_identical"]
    os.remove(os.path.join(out, "_manifest", f"{stems[0]}.json"))
    encode_dataset(spark, token_dir, out)
    assert not os.path.exists(junk)
    assert decode_verify(spark, token_dir, out)["bit_identical"]


def test_changed_input_re_encodes(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc")
    src = str(tmp_path / "src")
    shutil.copytree(token_dir, src)
    encode_dataset(spark, src, out)
    # replace one input file with different content (different size)
    write_token_table(src, 1000, seed=99, docs_per_file=1000)
    files = sorted(os.listdir(src))
    m = encode_dataset(spark, src, out)
    assert m["files_encoded"] >= 1
    assert decode_verify(spark, src, out)["bit_identical"]


def test_salted_source_mode(spark, token_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "enc_salted")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 17)
    m = encode_dataset_by_source(spark, token_dir, out)
    # skew defused: the head source is ~60% of the table's 1.46M tokens,
    # so it is cut into 7 salts of 128Ki tokens and the other 19 sources
    # stay one bucket each; no bucket holds more than ~1/10 of the tokens
    assert m["buckets_total"] == 26
    assert {r["n_salts"] for r in read_manifest(out).values()} == {1, 7}
    assert m["max_bucket_token_share"] < 0.1
    assert m["ratio_vs_parquet_zstd"] <= 1.0
    assert decode_verify(spark, token_dir, out)["bit_identical"]
    m2 = encode_dataset_by_source(spark, token_dir, out)
    assert m2["buckets_skipped"] == m2["buckets_total"]


def test_salted_lost_manifest_re_encodes(spark, token_dir, tmp_path, monkeypatch):
    """Regression: a committed bucket whose manifest record is lost must be
    re-encoded on resume (the job summary defines the bucket universe)."""
    import glob as g

    out = str(tmp_path / "enc_salted")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 17)
    m0 = encode_dataset_by_source(spark, token_dir, out)
    manifests = sorted(
        p
        for p in g.glob(out + "/_manifest/*.json")
        if not os.path.basename(p).startswith("_")  # skip job-level records
    )
    os.remove(manifests[0])
    m = encode_dataset_by_source(spark, token_dir, out)
    assert m["buckets_total"] == m0["buckets_total"]
    assert m["buckets_skipped"] == m0["buckets_total"] - 1
    assert decode_verify(spark, token_dir, out)["bit_identical"]


def test_empty_input_file_committed_once(spark, token_dir, tmp_path):
    """A 0-row input file gets a zero manifest record so resume skips it
    instead of rescanning forever."""
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import token_table_schema

    src = str(tmp_path / "src")
    shutil.copytree(token_dir, src)
    pq.write_table(
        token_table_schema().empty_table(), f"{src}/tokens-empty.parquet",
        compression="zstd",
    )
    out = str(tmp_path / "enc")
    m1 = encode_dataset(spark, src, out)
    assert m1["files_encoded"] == m1["files_total"]
    m2 = encode_dataset(spark, src, out)
    assert m2["files_encoded"] == 0
    assert decode_verify(spark, src, out)["bit_identical"]


def test_selective_decode(spark, token_dir, tmp_path, monkeypatch):
    """Source pruning + doc_id zone-map skipping return exactly the
    matching rows (compared against a full-decode filter)."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc_salted")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 17)
    encode_dataset_by_source(spark, token_dir, out)
    full = read_decoded(spark, out)

    by_src = read_decoded(spark, out, sources=["src00"])
    assert by_src.count() == full.filter(F.col("source") == "src00").count()
    assert by_src.filter(F.col("source") != "src00").count() == 0

    lo, hi = "doc-000000001000", "doc-000000001099"
    by_range = read_decoded(spark, out, doc_id_range=(lo, hi))
    expect = full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    assert by_range.count() == expect.count() == 100


def test_manifest_lineage_fields(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    rec = next(iter(read_manifest(out).values()))
    for field in ("snapshot", "checksum", "bytes_in", "bytes_out", "codecs", "n_tokens"):
        assert field in rec, field
    assert rec["bytes_out"] < rec["bytes_in"]
    assert any(k.startswith("values_g") for k in rec["codecs"])


def test_manifest_compaction(spark, token_dir, tmp_path):
    """Compaction folds loose per-file JSONs into a JSONL segment; resume
    semantics (skip committed, re-encode on snapshot mismatch) are
    unchanged, and compaction is idempotent."""
    import glob as _glob
    import os as _os

    from poc_parquet_aggregator_spark.encode import compact_manifest

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    before = read_manifest(out)
    n_loose = len(_glob.glob(_os.path.join(out, "_manifest", "*.json")))
    assert n_loose >= len(before)

    stats = compact_manifest(out)
    assert stats["absorbed"] == len(before)
    assert read_manifest(out) == before
    assert not [
        p
        for p in _glob.glob(_os.path.join(out, "_manifest", "*.json"))
        if not _os.path.basename(p).startswith("_")
    ]

    # resume after compaction: everything skipped
    m = encode_dataset(spark, token_dir, out)
    assert m["files_encoded"] == 0 and m["files_skipped"] == m["files_total"]

    # new commits land as loose JSONs and override the segment on read
    files = sorted(_glob.glob(_os.path.join(token_dir, "*.parquet")))
    stem = _os.path.basename(files[0]).rsplit(".", 1)[0]
    seg = _glob.glob(_os.path.join(out, "_manifest", "_compacted-*.jsonl"))
    assert len(seg) == 1

    # second compaction with nothing loose is a no-op
    stats2 = compact_manifest(out)
    assert stats2["absorbed"] == 0
    assert read_manifest(out) == before
    assert stem in before


def test_perfile_layout_source_filter_not_pruned(spark, token_dir, tmp_path):
    """On the default per-file layout no file is pruned by source (its
    records carry no ``source``) — the sources filter still returns the
    right rows via the kernel's row test."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    assert not any("n_salts" in r for r in read_manifest(out).values())
    full = read_decoded(spark, out)
    by_src = read_decoded(spark, out, sources=["src00"])
    n = full.filter(F.col("source") == "src00").count()
    assert n > 0
    assert by_src.count() == n
    funnel = plan_read(out, sources=["src00"]).funnel
    assert funnel["files_source_pruned"] == 0 and funnel["files_kept"] == funnel["files_total"]


def test_same_size_inplace_modify_re_encodes(spark, token_dir, tmp_path):
    """Resume must re-encode an input rewritten in place to the SAME byte
    size (snapshot compares mtime, not just size)."""
    out = str(tmp_path / "enc")
    src = str(tmp_path / "src")
    shutil.copytree(token_dir, src)
    encode_dataset(spark, src, out)
    f = sorted(os.listdir(src))[0]
    path = os.path.join(src, f)
    data = open(path, "rb").read()
    os.utime(path, ns=(os.stat(path).st_atime_ns, os.stat(path).st_mtime_ns + 10**9))
    open(path, "wb").write(data)  # byte-identical rewrite, new mtime
    m = encode_dataset(spark, src, out)
    assert m["files_encoded"] == 1
    assert decode_verify(spark, src, out)["bit_identical"]


def test_duplicate_stems_rejected(spark, token_dir, tmp_path):
    """Same-named inputs from different dirs share a commit key — must be
    rejected up front instead of silently dropping one of them."""
    other = str(tmp_path / "other")
    write_token_table(other, 1000, seed=5, docs_per_file=1000)
    files = sorted(
        os.path.join(token_dir, f) for f in os.listdir(token_dir)
    ) + sorted(os.path.join(other, f) for f in os.listdir(other))
    # both dirs start numbering at tokens-000000000000
    with pytest.raises(ValueError, match="duplicate input file stems"):
        encode_dataset(spark, files, str(tmp_path / "enc"))


def test_pack_token_examples_invariants(spark):
    """Packing preserves every token in order per source, never splits a
    doc, and non-final packs span their context boundary."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.operators.packing import pack_token_examples
    from poc_parquet_aggregator_spark.sources import generate_token_table

    df = spark.createDataFrame(generate_token_table(500, seed=11).to_pandas())
    packs = pack_token_examples(df, ctx_len=2048).cache()
    rows = packs.orderBy("source", "pack_id").collect()
    # per-pack length bookkeeping
    assert all(len(r["tokens"]) == r["n_tok"] for r in rows)
    # order-preserving round trip per source: concat of packs == concat of docs
    src_tokens = {
        r["source"]: r["all_toks"]
        for r in df.groupBy("source")
        .agg(
            F.flatten(
                F.array_sort(F.collect_list(F.struct("doc_id", "tokens"))).tokens
            ).alias("all_toks")
        )
        .collect()
    }
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).extend(r["tokens"])
    assert by_src == {k: list(v) for k, v in src_tokens.items()}
    # non-final packs cross their boundary: cumulative tokens ≥ (pack_id+1)*ctx
    for src in by_src:
        cum = 0
        ps = [r for r in rows if r["source"] == src]
        for r in ps[:-1]:
            cum += r["n_tok"]
            assert cum >= (r["pack_id"] + 1) * 2048


def test_sampled_decode_verify(spark, token_dir, tmp_path):
    """fraction < 1 verifies a deterministic file-level sample: the decode
    side scans only the sampled files' parts and the result is
    bit-identical over exactly those files' docs."""
    import zlib

    from poc_parquet_aggregator_spark.encode.pipeline import _stem

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    files = sorted(os.listdir(token_dir))
    sampled = [f for f in files if zlib.crc32(_stem(f).encode()) % 1000 < 500]
    expect_docs = sum(
        spark.read.parquet(os.path.join(token_dir, f)).count() for f in (sampled or files[:1])
    )
    res = decode_verify(spark, token_dir, out, fraction=0.5)
    assert res["bit_identical"]
    assert res["ok"] == expect_docs
    assert 0 < expect_docs < N_DOCS or len(sampled) in (0, len(files))


def test_extra_metadata_columns_roundtrip(spark, tmp_path, monkeypatch):
    """Columns beyond the core schema (string / int32 / int64 / double)
    encode per type, ride the lineage manifest, and decode bit-identically
    — including through the salted by-source mode and decode_verify's
    extended comparison."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.encode import read_decoded
    from poc_parquet_aggregator_spark.sources import generate_token_table

    rng = np.random.default_rng(3)
    base = generate_token_table(3000, seed=7)
    n = base.num_rows
    ext = base.append_column(
        "lang", pa.array(rng.choice(["en", "de", "fr"], n), type=pa.string())
    ).append_column(
        "quality", pa.array(rng.random(n), type=pa.float64())
    ).append_column(
        "crawl_ts", pa.array(rng.integers(1_500_000_000_000, 1_800_000_000_000, n), type=pa.int64())
    ).append_column(
        "n_lines", pa.array(rng.integers(0, 500, n), type=pa.int32())
    ).append_column(
        "seq", pa.array(np.arange(n, dtype=np.int32) * 3 + 10, type=pa.int32())
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(ext.slice(0, 1500), f"{src}/tokens-000000000000.parquet", compression="zstd")
    pq.write_table(ext.slice(1500), f"{src}/tokens-000000001500.parquet", compression="zstd")

    out = str(tmp_path / "enc")
    m = encode_dataset(spark, src, out)
    assert m["files_encoded"] == 2
    res = decode_verify(spark, src, out)
    assert res["bit_identical"], res
    dec = read_decoded(spark, out)
    assert set(dec.columns) == {"doc_id", "tokens", "n_tok", "source",
                                "lang", "quality", "crawl_ts", "n_lines", "seq"}
    # per-stream codec lineage includes the extras; the monotone int column
    # must select the DELTA codec (constant-step stream → tiny delta child)
    rec = next(iter(read_manifest(out).values()))
    assert any(k.startswith("extra:lang") for k in rec["codecs"])
    assert any(k == "extra:seq:delta" for k in rec["codecs"]), rec["codecs"]
    # salted mode carries extras too
    out2 = str(tmp_path / "enc_salted")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 13)
    encode_dataset_by_source(spark, src, out2)
    assert decode_verify(spark, src, out2)["bit_identical"]


def _with_extras(tbl, *names):
    """``tbl`` plus one int32 extra column per name."""
    import numpy as np
    import pyarrow as pa

    for name in names:
        tbl = tbl.append_column(name, pa.array(np.arange(tbl.num_rows, dtype=np.int32)))
    return tbl


def test_files_with_different_extras_fail_the_job(spark, tmp_path, encode_runners):
    """One job over a file with ``lang`` and one with ``lang, q`` raises
    before any task runs, naming both files and their columns, and
    commits nothing, on each encode runner: Spark infers one file's
    schema for the whole scan, so the job would drop ``q`` (or NULL it
    for the other file)."""
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import generate_token_table

    base = generate_token_table(600, seed=5)
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(_with_extras(base.slice(0, 300), "lang"), f"{src}/tokens-a.parquet")
    pq.write_table(_with_extras(base.slice(300), "lang", "q"), f"{src}/tokens-b.parquet")
    for runner, encode in itertools.product(encode_runners(), (encode_dataset, encode_dataset_by_source)):
        out = str(tmp_path / f"{runner}-{encode.__name__}")
        with pytest.raises(ValueError, match=r"tokens-a\.parquet has \[\['lang', 'integer'\]\], "
                                             r".*tokens-b\.parquet has \[.*'q'"):
            encode(spark, src, out)
        assert read_manifest(out) == {}


def test_decode_verify_flags_a_column_no_record_declares(spark, tmp_path):
    """A source column the encoded table lacks is a mismatch: here the
    input gains ``q`` after its encode, so no record declares it."""
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import generate_token_table

    base = _with_extras(generate_token_table(400, seed=6), "lang")
    src = str(tmp_path / "src")
    os.makedirs(src)
    path = f"{src}/tokens-000000000000.parquet"
    pq.write_table(base, path)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    assert decode_verify(spark, src, out)["bit_identical"]
    pq.write_table(_with_extras(base, "q"), path)
    res = decode_verify(spark, src, out)
    assert not res["bit_identical"] and res["mismatch"] == 400, res


def test_column_pruned_decode(runners, spark, token_dir, tmp_path, monkeypatch):
    """read_decoded(columns=...) decodes only the selected columns: results
    match the full decode's projection, the lengths-only path (n_tok
    without tokens) agrees, and the parquet scan of each runner reads only
    the needed blob columns."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    full = read_decoded(spark, out)

    ntok = runners["spark"](spark, out, columns=["doc_id", "n_tok"])
    assert ntok.columns == ["doc_id", "n_tok"]
    a = {r["doc_id"]: r["n_tok"] for r in ntok.collect()}
    b = {r["doc_id"]: r["n_tok"] for r in full.select("doc_id", "n_tok").collect()}
    assert a == b
    # scan pruning: source/extras blobs never read for this projection
    _, columns = _local_scan(runners, spark, monkeypatch, out, columns=["doc_id", "n_tok"])
    assert columns == ["doc_id_blob", "tokens_blob"]
    plan = ntok._jdf.queryExecution().executedPlan().toString()
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas and all(
        "source_blob" not in rs and "extras_blob" not in rs for rs in read_schemas
    ), read_schemas

    # sources filter with a projection that drops source afterwards
    only = read_decoded(spark, out, sources=["src00"], columns=["doc_id"])
    assert only.columns == ["doc_id"]
    assert only.count() == full.filter(F.col("source") == "src00").count()

    with pytest.raises(ValueError, match="unknown columns"):
        read_decoded(spark, out, columns=["nope"])


def test_extra_float_container_incompressible():
    """Incompressible float64 extras take the RAW blob; raw doubles whose
    first byte collides with the ZSTD codec id must NOT be misparsed
    (regression: unwrap_zstd on unwrapped raw bytes)."""
    import numpy as np
    import pyarrow as pa

    from poc_parquet_aggregator_spark.encode.pipeline import _decode_extra, _encode_extra

    rng = np.random.default_rng(0)
    # raw random bytes as doubles: maximally incompressible, may embed any
    # leading byte (including 0x05), may contain NaN
    raw = rng.integers(0, 256, 8 * 4096, dtype=np.uint8).tobytes()
    vals = np.frombuffer(raw, dtype=np.float64)
    arr = pa.array(vals, type=pa.float64())
    for lvl in (1, 15):
        payload, codec = _encode_extra(arr, "double", lvl)
        out = _decode_extra("double", payload).to_numpy(zero_copy_only=False)
        assert np.array_equal(out, vals, equal_nan=True), codec
    # compressible doubles never take the RAW blob (zstd or ALP, whichever
    # is byte-smaller — all-zeros is decimal-exact so ALP competes too)
    smooth = pa.array(np.zeros(4096), type=pa.float64())
    payload, codec = _encode_extra(smooth, "double", 3)
    assert codec != "f64_raw"
    out = _decode_extra("double", payload).to_numpy(zero_copy_only=False)
    assert np.array_equal(out, np.zeros(4096))


def test_point_lookup_doc_ids(spark, token_dir, tmp_path):
    """doc_ids= point lookups: zone-map OR-predicate prunes chunks, exact
    post-filter returns precisely the requested rows (scattered ids across
    files, with a projection)."""
    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    want = ["doc-000000000007", "doc-000000002500", "doc-000000005999"]
    got = read_decoded(spark, out, doc_ids=want, columns=["doc_id", "n_tok"])
    rows = {r["doc_id"]: r["n_tok"] for r in got.collect()}
    assert sorted(rows) == want
    full = read_decoded(spark, out, columns=["doc_id", "n_tok"])
    expect = {r["doc_id"]: r["n_tok"] for r in full.collect() if r["doc_id"] in set(want)}
    assert rows == expect
    # nonexistent id → empty, no error
    assert read_decoded(spark, out, doc_ids=["doc-999999999999"]).count() == 0


def test_manifest_file_pruning(runners, spark, token_dir, tmp_path, monkeypatch):
    """Range reads prune whole files via the manifest's file-level doc_id
    bounds before the scan: each runner's input files are exactly the
    overlapping stem's parts, and results match the unpruned filter."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    recs = read_manifest(out)
    assert all(r.get("doc_id_min") and r.get("doc_id_max") for r in recs.values())
    # range falling inside ONE file (files are 2000 docs each, ids sorted)
    lo, hi = "doc-000000000100", "doc-000000000199"
    df = runners["spark"](spark, out, doc_id_range=(lo, hi))
    assert df.count() == 100
    # the scan reads exactly the one overlapping stem's parts
    (stem,) = [s for s, r in recs.items() if r["doc_id_min"] <= lo <= r["doc_id_max"]]
    assert _input_stems(df, recs) == {stem}
    files, _ = _local_scan(runners, spark, monkeypatch, out, doc_id_range=(lo, hi))
    assert _stems(files, recs) == {stem}
    full = read_decoded(spark, out)
    assert df.count() == full.filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    ).count()


def _stems(files, records: dict) -> set[str]:
    """The stems whose named parts ``files`` are (every file must be one)."""
    stem_of = {os.path.basename(p): s for s, r in records.items() for p in r["parts"]}
    return {stem_of[os.path.basename(f)] for f in files}


def _input_stems(df, records: dict) -> set[str]:
    """The stems whose named parts a Spark runner's scan opens."""
    import urllib.parse

    return _stems([urllib.parse.unquote(f) for f in df.inputFiles()], records)


def _local_scan(runners, spark, monkeypatch, out, **kw) -> tuple[list[str], list[str]]:
    """(files, chunk columns) the in-process runner reads for a read: the
    arguments of its one ``pyarrow.parquet.read_table`` call."""
    import pyarrow.parquet as pq

    calls, real = [], pq.read_table
    with monkeypatch.context() as m:
        m.setattr(pq, "read_table", lambda files, **opts: calls.append(
            (files, opts["columns"])) or real(files, **opts))
        runners["local"](spark, out, **kw)
    (call,) = calls
    return call


def test_length_zone_map_pruned_read(runners, spark, token_dir, tmp_path, monkeypatch):
    """n_tok zone maps: a length-bucketed read (the training dataloader's
    curriculum/length-sampling pattern) prunes chunks via chunk-level
    n_tok_min/max before any blob is decoded, and the exact per-row filter
    matches a post-hoc filter of the full decode."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    full = read_decoded(spark, out).select("doc_id", "n_tok")
    want = {r["doc_id"] for r in full.filter(F.col("n_tok") <= 8).collect()}
    got_df = runners["spark"](spark, out, n_tok_range=(1, 8), columns=["doc_id", "n_tok"])
    got = {r["doc_id"] for r in got_df.collect()}
    assert got == want and len(got) > 0
    # each runner scans the chunk zone columns the kernel prunes with
    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    assert "n_tok_max" in plan and "n_tok_min" in plan
    _, columns = _local_scan(runners, spark, monkeypatch, out, n_tok_range=(1, 8),
                             columns=["doc_id", "n_tok"])
    assert columns == ["doc_id_blob", "n_tok_max", "n_tok_min", "tokens_blob"]


def test_length_bounds_prune_files_via_manifest(runners, spark, tmp_path, monkeypatch):
    """Files whose manifest n_tok bounds don't overlap the requested length
    band are dropped BEFORE the scan (the doc_id manifest-prune analog)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import token_table_schema

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write(name, start, length, n):
        toks = [[7] * length for _ in range(n)]
        tbl = pa.table(
            {
                "doc_id": pa.array([f"doc-{start + i:012d}" for i in range(n)]),
                "tokens": pa.array(toks, type=pa.list_(pa.int32())),
                "n_tok": pa.array([length] * n, type=pa.int32()),
                "source": pa.array(["s"] * n),
            },
            schema=token_table_schema(),
        )
        pq.write_table(tbl, f"{src}/{name}.parquet", compression="zstd")

    write("short", 0, 2, 50)
    write("long", 100, 100, 50)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    rec = read_manifest(out)
    assert rec["short"]["n_tok_min"] == rec["short"]["n_tok_max"] == 2
    assert rec["long"]["n_tok_min"] == rec["long"]["n_tok_max"] == 100

    df = runners["spark"](spark, out, n_tok_range=(90, 200), columns=["doc_id", "n_tok"])
    assert df.count() == 50
    # the 'short' file is pruned at the manifest: no runner's scan opens it
    assert _input_stems(df, rec) == {"long"}
    files, _ = _local_scan(runners, spark, monkeypatch, out, n_tok_range=(90, 200))
    assert _stems(files, rec) == {"long"}


def test_selective_reads_equal_posthoc_filters_randomized(spark, token_dir, tmp_path):
    """Randomized equivalence sweep: for seeded random length bands and
    doc_id ranges, the pruned selective read returns EXACTLY the rows a
    post-hoc filter of the full decode returns (composition included)."""
    import random

    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    full = read_decoded(spark, out).select("doc_id", "n_tok", "source").cache()
    full.count()
    rng = random.Random(7)
    for _ in range(6):
        lo_t = rng.randint(1, 2000)
        hi_t = lo_t + rng.randint(0, 2500)
        a = rng.randint(0, N_DOCS - 1)
        b = rng.randint(0, N_DOCS - 1)
        lo_d, hi_d = f"doc-{min(a,b):012d}", f"doc-{max(a,b):012d}"
        want = {
            r["doc_id"]
            for r in full.filter(
                (F.col("n_tok") >= lo_t) & (F.col("n_tok") <= hi_t)
                & (F.col("doc_id") >= lo_d) & (F.col("doc_id") <= hi_d)
            ).collect()
        }
        got = {
            r["doc_id"]
            for r in read_decoded(
                spark, out,
                doc_id_range=(lo_d, hi_d),
                n_tok_range=(lo_t, hi_t),
                columns=["doc_id"],
            ).collect()
        }
        assert got == want, (lo_t, hi_t, lo_d, hi_d)
    full.unpersist()


def test_pack_token_examples_salted_streams(spark):
    """n_streams > 1 (the skew control for the 60% head source): every
    token is preserved exactly once, docs are never split, per-stream packs
    obey the boundary rule, and assignment is deterministic across runs."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.operators.packing import pack_token_examples
    from poc_parquet_aggregator_spark.sources import generate_token_table

    df = spark.createDataFrame(generate_token_table(500, seed=11).to_pandas())
    packs = pack_token_examples(df, ctx_len=2048, n_streams=4).cache()
    rows = packs.collect()
    assert {r["stream"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["tokens"]) == r["n_tok"] for r in rows)
    # token multiset preserved exactly (sorted concat per source)
    want = {
        r["source"]: sorted(r["all_toks"])
        for r in df.groupBy("source")
        .agg(F.flatten(F.collect_list("tokens")).alias("all_toks"))
        .collect()
    }
    got: dict = {}
    for r in rows:
        got.setdefault(r["source"], []).extend(r["tokens"])
    assert {k: sorted(v) for k, v in got.items()} == want
    # determinism: identical pack assignment on a repartitioned re-run
    again = {
        (r["source"], r["stream"], r["pack_id"], tuple(r["tokens"]))
        for r in pack_token_examples(df.repartition(13), ctx_len=2048, n_streams=4).collect()
    }
    assert again == {
        (r["source"], r["stream"], r["pack_id"], tuple(r["tokens"])) for r in rows
    }
    packs.unpersist()


def test_remap_tokens_vocab_surgery(spark):
    """Vocab remap: 1:1 mapping applied token-exactly, out-of-range and
    negative-mapped ids become UNK, n_tok/doc_id/source untouched."""
    import numpy as np

    from poc_parquet_aggregator_spark.operators.vocab import remap_tokens
    from poc_parquet_aggregator_spark.sources import generate_token_table

    df = spark.createDataFrame(generate_token_table(300, seed=3).to_pandas())
    VOCAB = 50257
    mapping = np.arange(VOCAB, dtype=np.int32) + 1  # shift everything by 1
    mapping[7] = -1  # id 7 is pruned → UNK
    out = remap_tokens(df, mapping, unk_id=0)
    assert out.schema == df.schema
    got = {r["doc_id"]: r for r in out.collect()}
    for r in df.collect():
        want = [0 if t == 7 else t + 1 for t in r["tokens"]]
        g = got[r["doc_id"]]
        assert list(g["tokens"]) == want
        assert g["n_tok"] == r["n_tok"] and g["source"] == r["source"]


def test_null_zone_columns_conservatively_kept(spark, token_dir, tmp_path):
    """Mixed-version out_dir: chunks whose zone columns read as NULL (files
    encoded before n_tok / doc_id zones existed) must be KEPT by the
    decode kernel's chunk zone test, not silently dropped (r3 ADVICE).
    Simulated by nulling the zone columns of every encoded part in place."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    baseline = read_decoded(spark, out, sources=["src05"]).count()
    base_range = read_decoded(spark, out, n_tok_range=(10, 100)).count()
    base_ids = read_decoded(
        spark, out, doc_ids=["doc-000000000005", "doc-000000000123"]
    ).count()
    assert baseline > 0 and base_range > 0 and base_ids == 2
    for p in _glob.glob(os.path.join(out, "data", "**", "*.parquet"), recursive=True):
        tbl = pq.read_table(p)
        n = tbl.num_rows
        for col, typ in [
            ("n_tok_min", pa.int32()),
            ("n_tok_max", pa.int32()),
            ("doc_id_min", pa.string()),
            ("doc_id_max", pa.string()),
        ]:
            idx = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(idx, tbl.schema.field(idx), pa.nulls(n, typ))
        pq.write_table(tbl, p, compression="none", use_dictionary=False)
    # the kernel's zone test can no longer skip a chunk, but its exact
    # row tests still apply — same answers, no silent drop
    assert read_decoded(spark, out, sources=["src05"]).count() == baseline
    assert read_decoded(spark, out, n_tok_range=(10, 100)).count() == base_range
    assert (
        read_decoded(
            spark, out, doc_ids=["doc-000000000005", "doc-000000000123"]
        ).count()
        == 2
    )


def test_remap_tokens_rejects_null_lists(spark):
    """A NULL tokens list must raise, not corrupt offsets (r3 ADVICE)."""
    import numpy as np
    import pytest as _pytest

    from poc_parquet_aggregator_spark.operators.vocab import remap_tokens

    df = spark.createDataFrame(
        [("a", [1, 2], 2, "s"), ("b", None, 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    out = remap_tokens(df, np.arange(10, dtype=np.int32))
    with _pytest.raises(Exception, match="NULL lists"):
        out.collect()


def test_length_bucketed_pack_over_encoded(spark, token_dir, tmp_path):
    """Training-loader composition: encode → length-bucketed selective
    decode (n_tok_range drives zone-map pruning) → sequence packing. The
    packed examples must cover exactly the in-range docs, preserve every
    token, and assign deterministically (same packs on a re-read)."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.encode import read_decoded
    from poc_parquet_aggregator_spark.operators.packing import pack_token_examples

    out = str(tmp_path / "enc")
    encode_dataset(spark, token_dir, out)
    lo, hi = 32, 256
    dec = read_decoded(spark, out, n_tok_range=(lo, hi))
    want_docs = (
        spark.read.parquet(token_dir)
        .filter((F.col("n_tok") >= lo) & (F.col("n_tok") <= hi))
    )
    packed = pack_token_examples(dec, ctx_len=1024)
    agg = packed.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_tok").alias("toks"),
        F.sum(F.size("tokens")).alias("flat"),
    ).collect()[0]
    src = want_docs.agg(
        F.count("*").alias("docs"), F.sum("n_tok").alias("toks")
    ).collect()[0]
    assert agg["docs"] == src["docs"] > 0
    assert agg["toks"] == src["toks"] == agg["flat"]
    # deterministic: identical pack assignment on a second read
    packed2 = pack_token_examples(
        read_decoded(spark, out, n_tok_range=(lo, hi)), ctx_len=1024
    )
    key = ["source", "pack_id"]
    h = F.md5(F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string"))))
    a = {tuple(r[k] for k in key): r["h"] for r in packed.select(*key, h.alias("h")).collect()}
    b = {tuple(r[k] for k in key): r["h"] for r in packed2.select(*key, h.alias("h")).collect()}
    assert a == b


def test_empty_doc_id_keeps_file_bounds(spark, tmp_path):
    """An input file whose smallest doc_id is "" and that is cut into
    several chunks: the file record must keep "" as its lower bound. A fold
    that dropped falsy bounds recorded the NEXT chunk's or part's minimum,
    so range and point reads pruned the file and returned no rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.encode import read_decoded

    src = str(tmp_path / "tokens")
    (path,) = write_token_table(src, 8000, seed=5, docs_per_file=8000)
    tbl = pq.read_table(path)
    ids = tbl.column("doc_id").to_pylist()
    ids[0] = ""
    tbl = tbl.set_column(
        tbl.schema.get_field_index("doc_id"),
        tbl.schema.field("doc_id"),
        pa.array(ids, pa.string()),
    )
    pq.write_table(tbl, path, row_group_size=1600)
    out = str(tmp_path / "enc")
    encode_dataset(spark, src, out)
    (rec,) = read_manifest(out).values()
    assert rec["n_chunks"] >= 2

    def truth(mask):
        t = tbl.filter(mask).select(["doc_id", "n_tok"]).sort_by("doc_id")
        return list(zip(t.column("doc_id").to_pylist(), t.column("n_tok").to_pylist()))

    lo, hi = "doc-000000000100", "doc-000000000199"
    want_range = truth(pc.and_(pc.greater_equal(tbl["doc_id"], lo), pc.less_equal(tbl["doc_id"], hi)))
    point = "doc-000000000150"
    want_point = truth(pc.equal(tbl["doc_id"], point))
    assert len(want_range) == 100 and len(want_point) == 1
    for kwargs, want in (
        ({"doc_id_range": (lo, hi)}, want_range),
        ({"doc_ids": [point]}, want_point),
    ):
        got = read_decoded(spark, out, columns=["doc_id", "n_tok"], **kwargs)
        assert [tuple(r) for r in got.orderBy("doc_id").collect()] == want, kwargs
    assert rec["doc_id_min"] == ""


def test_fold_parts_rules():
    """fold_parts on synthetic rows: "" is a real doc_id bound, an empty
    row's token zone (tok_max < tok_min) is ignored, one row without a
    filter means no merged filter, and no rows fold to the zero record."""
    import numpy as np

    from poc_parquet_aggregator_spark.encode.pipeline import fold_parts
    from poc_parquet_aggregator_spark.encode.tokfilter import (
        build_token_filter,
        token_filter_bounds,
        token_filter_contains_any,
    )

    def row(ids, toks, crc):
        filt = build_token_filter(np.asarray(toks, dtype=np.int32))
        lo, hi = token_filter_bounds(filt)
        return {
            "n_chunks": 1, "n_docs": len(ids), "n_tokens": len(toks),
            "bytes_in": 10, "bytes_out": 4, "checksum": crc,
            "codecs": {"doc_id:str_plain": 1},
            "doc_id_min": min(ids), "doc_id_max": max(ids),
            "n_tok_min": 0, "n_tok_max": len(toks),
            "tok_min": lo, "tok_max": hi, "tok_filter": filt,
        }

    a = row(["", "doc-2"], [7, 8, 10], 0b0011)
    b = row(["doc-3", "doc-5"], [100], 0b0101)
    empty = row(["doc-4"], [], 0b1000)
    assert empty["tok_max"] < empty["tok_min"]
    f = fold_parts([a, b, empty])
    assert (f["doc_id_min"], f["doc_id_max"]) == ("", "doc-5")
    assert (f["tok_min"], f["tok_max"]) == (7, 100)
    assert (f["n_tok_min"], f["n_tok_max"]) == (0, 3)
    assert f["n_chunks"] == 3 and f["n_docs"] == 5 and f["bytes_out"] == 12
    assert f["checksum"] == 0b1110 and f["codecs"] == {"doc_id:str_plain": 3}
    assert token_filter_contains_any(f["tok_filter"], [100])
    assert not token_filter_contains_any(f["tok_filter"], [9])
    assert fold_parts([a, {**b, "tok_filter": None}])["tok_filter"] is None
    nothing = fold_parts([])
    assert nothing["tok_filter"] is None and nothing["doc_id_min"] is None


_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
                "spark.sql.files.minPartitionNum")


def test_encodes_leave_session_split_confs_unchanged(spark, token_dir, tmp_path, encode_runners):
    """Each encode sizes its own scan's splits: after it returns or
    raises, on either encode runner, the session's split confs read as
    before (or stay unset), so later reads in the session run under the
    caller's confs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import generate_token_table
    from poc_parquet_aggregator_spark.streaming import encode_stream

    bad = tmp_path / "bad"
    bad.mkdir()
    tbl = generate_token_table(200)
    i = tbl.schema.get_field_index("n_tok")
    tbl = tbl.set_column(i, "n_tok", pa.array(tbl.column(i).to_numpy() + 1, pa.int32()))
    pq.write_table(tbl, str(bad / "tokens-000000000000.parquet"))
    dupes = [os.path.join(token_dir, f) for f in sorted(os.listdir(token_dir))]
    dupes.append(str(bad / "tokens-000000000000.parquet"))
    # (call, the error it must raise): the duplicate stem is rejected up
    # front, the bad n_tok fails inside the encode job
    calls = {
        "per-file": (lambda out: encode_dataset(spark, token_dir, out), None),
        "by-source": (lambda out: encode_dataset_by_source(spark, token_dir, out), None),
        "stream": (lambda out: encode_stream(spark, token_dir, out), None),
        "dupes": (lambda out: encode_dataset(spark, dupes, out), "duplicate input file stems"),
        "bad": (lambda out: encode_dataset(spark, str(bad), out), "n_tok invariant violated"),
    }
    try:
        for runner, before in itertools.product(
            encode_runners(), ((None, None, None), ("33554432", "1234", "3"))
        ):
            for k, v in zip(_SPLIT_CONFS, before):
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            for name, (call, error) in calls.items():
                out = str(tmp_path / f"{runner}-{name}-{before[0]}")
                if error is None:
                    call(out)
                else:
                    with pytest.raises(Exception, match=error):
                        call(out)
                after = tuple(spark.conf.get(k, None) for k in _SPLIT_CONFS)
                assert after == before, (runner, name, after)
    finally:
        for k in _SPLIT_CONFS:
            spark.conf.unset(k)


def _record_bytes(out: str, stem: str) -> tuple:
    """A record without its names and time, and the bytes it names."""
    rec = read_manifest(out)[stem]
    return _without_names(rec), _named_blobs(out, rec)


def test_resume_re_encodes_a_file_to_its_own_bytes(spark, tmp_path, encode_runners):
    """A file's chunks are cut from its own rows alone. 16 files of 1,500
    docs, a job on 4 cores: Spark's Arrow batches used to cross file
    boundaries inside a task, so a file sharing its task was cut into two
    chunks, and re-encoding it alone after its record was lost gave one
    chunk, other blobs, another checksum and other ``bytes_out``."""
    src = str(tmp_path / "src")
    write_token_table(src, 24000, seed=3, docs_per_file=1500)
    stem = "tokens-000000003000"
    for runner in encode_runners():
        out = str(tmp_path / runner)
        encode_dataset(spark, src, out)
        assert all(r["n_chunks"] == 1 for r in read_manifest(out).values()), runner
        want = _record_bytes(out, stem)
        os.remove(os.path.join(out, "_manifest", f"{stem}.json"))
        assert encode_dataset(spark, src, out)["files_encoded"] == 1
        assert _record_bytes(out, stem) == want, runner


def test_multi_row_group_file_encodes_alike_alone_and_beside_others(spark, tmp_path, encode_runners):
    """A 5,000-doc file in five row groups encodes to the same record and
    blobs beside seven other files and alone: no task reads part of a
    file, and its chunks are 2,048 rows counted from its first row."""
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import generate_token_table

    src = str(tmp_path / "src")
    write_token_table(src, 14000, seed=4, docs_per_file=2000)
    big = os.path.join(src, "tokens-big.parquet")
    pq.write_table(generate_token_table(5000, seed=4, start_id=14000), big,
                   compression="zstd", row_group_size=1000)
    assert pq.ParquetFile(big).num_row_groups == 5
    for runner in encode_runners():
        beside, alone = str(tmp_path / f"{runner}-beside"), str(tmp_path / f"{runner}-alone")
        assert encode_dataset(spark, src, beside)["files_encoded"] == 8
        encode_dataset(spark, [big], alone)
        assert read_manifest(alone)["tokens-big"]["n_chunks"] == 3
        assert _record_bytes(beside, "tokens-big") == _record_bytes(alone, "tokens-big"), runner


def test_encode_picks_the_runner_from_input_bytes(spark, token_dir, tmp_path, monkeypatch):
    """Each encode call runs the kernel in-process when its input files
    hold at most ``_LOCAL_ENCODE_BYTES`` on-disk bytes and in a Spark job
    above it, and reports the choice next to the bytes that made it; a
    call with nothing to encode runs neither. The in-process runner makes
    no JVM call: it runs without a session."""
    import glob

    from poc_parquet_aggregator_spark.encode import pipeline
    from poc_parquet_aggregator_spark.streaming import encode_stream

    size = sum(os.stat(f).st_size for f in glob.glob(os.path.join(token_dir, "*.parquet")))
    assert 0 < size <= pipeline._LOCAL_ENCODE_BYTES  # the test table encodes in-process
    jobs = []
    real = pipeline._encode_spark
    monkeypatch.setattr(pipeline, "_encode_spark", lambda *a: jobs.append(a) or real(*a))
    calls = {"per-file": encode_dataset, "by-source": encode_dataset_by_source,
             "stream": encode_stream}
    for limit, runner in ((pipeline._LOCAL_ENCODE_BYTES, "local"), (size, "local"),
                          (size - 1, "spark")):
        monkeypatch.setattr(pipeline, "_LOCAL_ENCODE_BYTES", limit)
        session = spark if runner == "spark" else None
        for name, call in calls.items():
            out = str(tmp_path / f"{limit}-{name}")
            n_jobs = len(jobs)
            m = call(session, token_dir, out)
            assert (m["runner"], m["input_bytes"]) == (runner, size), (name, limit)
            assert len(jobs) - n_jobs == (runner == "spark"), (name, limit)
            assert m["n_docs"] == N_DOCS
            again = call(session, token_dir, out)
            assert (again["runner"], again["input_bytes"]) == (None, 0), name


def _encode_digest():
    """``scripts/encode_digest.py``'s ``encode_digest``."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "encode_digest", os.path.join(os.path.dirname(__file__), "..", "scripts", "encode_digest.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.encode_digest


def _write_mixed_files(src: str, files: tuple) -> None:
    """Token files from (first doc, docs, row group size) triples, with
    extra columns of all four types; a file of 0 docs is empty."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.sources import generate_token_table

    os.makedirs(src)
    for start, n, rg in files:
        tbl = generate_token_table(max(n, 8), seed=21, start_id=start).slice(0, n)
        rng = np.random.default_rng(n)
        tbl = (tbl.append_column("lang", pa.array(rng.choice(["en", "de"], n), pa.string()))
               .append_column("quality", pa.array(rng.random(n), pa.float64()))
               .append_column("ts", pa.array(rng.integers(0, 1 << 40, n), pa.int64()))
               .append_column("q", pa.array(rng.integers(0, 9, n), pa.int32())))
        pq.write_table(tbl, f"{src}/tokens-{start:012d}.parquet", row_group_size=rg)


def test_runners_write_the_same_bytes(spark, tmp_path, encode_runners):
    """Both layouts, over files of one to three chunks (one in several row
    groups), an empty file and extra columns of every type: the two
    encode runners write the same stored bytes and records
    (``scripts/encode_digest.py``), and every record names at most one
    part."""
    encode_digest = _encode_digest()
    src = str(tmp_path / "src")
    _write_mixed_files(src, ((0, 5000, 700), (5000, 2000, None), (7000, 900, None), (7900, 0, None)))
    for encode in (encode_dataset, encode_dataset_by_source):
        digests = {}
        for runner in encode_runners():
            out = str(tmp_path / f"{runner}-{encode.__name__}")
            assert encode(spark, src, out)["runner"] == runner
            digests[runner] = encode_digest(out)
            parts = {s: len(r["parts"]) for s, r in read_manifest(out).items()}
            assert max(parts.values()) == 1, (encode.__name__, runner, parts)
        assert digests["local"] == digests["spark"], encode.__name__
        assert decode_verify(spark, src, out)["bit_identical"], encode.__name__


def test_path_tasks_balance_bytes(spark, tmp_path):
    """The per-file Spark runner's tasks over files of skewed sizes (4
    large, 60 small): each task is one partition, every file is in one
    task, the large files are in different tasks, and no task reads more
    than the mean plus the largest file."""
    from poc_parquet_aggregator_spark.encode.pipeline import _path_df

    sizes = {}
    for k, size in enumerate([10_000] * 4 + [100] * 60):
        f = str(tmp_path / f"f{k:02d}.parquet")
        with open(f, "wb") as fh:
            fh.write(b"\0" * size)
        sizes[f] = size
    n = min(len(sizes), spark.sparkContext.defaultParallelism)
    parts = _path_df(spark, list(sizes)).rdd.glom().collect()
    assert all(len(part) <= 1 for part in parts)
    tasks = [part[0].paths for part in parts if part]
    assert len(tasks) == n
    assert sorted(p for t in tasks for p in t) == sorted(sizes)
    big = [sum(sizes[p] == 10_000 for p in t) for t in tasks]
    assert max(big) == -(-4 // n), big
    assert max(sum(sizes[p] for p in t) for t in tasks) <= sum(sizes.values()) / n + 10_000


def test_a_unit_encoded_as_two_parts_raises_before_any_commit(tmp_path, monkeypatch):
    """A commit unit is one part: when one file's batches come back from
    the kernel as two units of the same stem, the job raises naming the
    stem and commits no record, not a two-part record."""
    from poc_parquet_aggregator_spark.encode import pipeline

    src = str(tmp_path / "src")
    write_token_table(src, 5000, docs_per_file=5000)
    (f,) = (os.path.join(src, n) for n in os.listdir(src))
    batches = list(pipeline._file_pieces(f))
    assert len(batches) > 1
    real = pipeline._encode_parts
    monkeypatch.setattr(pipeline, "_encode_parts",
                        lambda *a: real(*a[:-1], lambda: [batches[:1], batches[1:]]))
    out = str(tmp_path / "enc")
    with pytest.raises(ValueError, match=pipeline._stem(f)):
        encode_dataset(None, src, out)
    assert read_manifest(out) == {}


def _pool_width(monkeypatch, width: int) -> None:
    """Run in-process encodes on a pool of at most ``width`` threads."""
    from poc_parquet_aggregator_spark.encode import pipeline

    monkeypatch.setattr(pipeline, "host_cores", lambda: width)


def test_pool_widths_write_the_same_bytes(tmp_path, monkeypatch):
    """The in-process runner writes the same stored bytes and records on
    a pool of one thread and of four, in both layouts: 8 files, one in
    several row groups and one empty, with extras of every type. At
    width 4 the first four units do run at once (they meet at a
    barrier)."""
    import threading

    from poc_parquet_aggregator_spark.encode import pipeline

    encode_digest = _encode_digest()
    src = str(tmp_path / "src")
    _write_mixed_files(src, ((0, 5000, 700), (5000, 0, None),
                             *((5000 + 900 * i, 900, None) for i in range(6))))
    real = pipeline._encode_units
    for encode in (encode_dataset, encode_dataset_by_source):
        digests = {}
        for width in (1, 4):
            _pool_width(monkeypatch, width)
            met = threading.Barrier(width, timeout=60)
            calls = itertools.count()

            def units(*a, met=met, calls=calls):
                if next(calls) < met.parties:
                    met.wait()
                yield from real(*a)

            monkeypatch.setattr(pipeline, "_encode_units", units)
            out = str(tmp_path / f"{encode.__name__}-{width}")
            assert encode(None, src, out)["runner"] == "local"
            digests[width] = encode_digest(out)
        assert digests[1] == digests[4], encode.__name__


def test_pool_failure_commits_nothing(tmp_path, monkeypatch):
    """A middle file that breaks the ``n_tok`` invariant fails the
    in-process job at every pool width, in both layouts: no record is
    committed and no pool thread is left running."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    write_token_table(str(src), 5000, docs_per_file=1000)
    bad = src / "tokens-000000002000.parquet"
    tbl = pq.read_table(bad)
    i = tbl.schema.get_field_index("n_tok")
    pq.write_table(tbl.set_column(i, "n_tok", pa.array(tbl.column(i).to_numpy() + 1, pa.int32())),
                   bad)
    before = set(threading.enumerate())
    for width, encode in itertools.product((1, 4), (encode_dataset, encode_dataset_by_source)):
        _pool_width(monkeypatch, width)
        out = str(tmp_path / f"{encode.__name__}-{width}")
        with pytest.raises(ValueError, match="n_tok invariant violated"):
            encode(None, str(src), out)
        assert read_manifest(out) == {}, (encode.__name__, width)
        assert set(threading.enumerate()) <= before, (encode.__name__, width)


def test_in_process_buckets_equal_spark_buckets(spark, tmp_path, monkeypatch):
    """The in-process by-source runner sizes every source's salt count
    like the Spark runner — ``max(1, ceil(tokens_s / _BUCKET_TOKENS))``
    over the source's summed n_tok — and names every row's bucket
    exactly as Spark's ``source || "_s" || format_string("%03d",
    crc32(doc_id) % k_s)`` does, non-ASCII doc ids hashed as UTF-8. At
    one size every source but the head is one bucket, at the other the
    head is cut into more than 1,000. Each bucket's rows come in a row,
    sorted by doc_id in byte order, like the shuffle hands them over."""
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.encode.salted import _bucket_df, _bucket_pieces
    from poc_parquet_aggregator_spark.sources import generate_token_table

    tbl = generate_token_table(3000, seed=17)
    ids = [d if i % 3 else f"{d}-é{i}" for i, d in enumerate(tbl.column("doc_id").to_pylist())]
    tbl = tbl.set_column(tbl.schema.get_field_index("doc_id"), "doc_id", pa.array(ids, pa.string()))
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = [f"{src}/tokens-a.parquet", f"{src}/tokens-b.parquet"]
    pq.write_table(tbl.slice(0, 1700), files[0])
    pq.write_table(tbl.slice(1700), files[1])
    source = dict(zip(ids, tbl.column("source").to_pylist()))
    tokens = {}
    for d, n in zip(ids, tbl.column("n_tok").to_pylist()):
        tokens[source[d]] = tokens.get(source[d], 0) + n
    head = max(tokens, key=tokens.get)
    for size in (max(v for s, v in tokens.items() if s != head), 256):
        monkeypatch.setattr(salted, "_BUCKET_TOKENS", size)
        want_k = {s: max(1, -(-t // size)) for s, t in tokens.items()}
        spark_k, local_k = {}, {}
        want = sorted(map(tuple, _bucket_df(spark, files, {}, spark_k)
                          .select("_bucket", "doc_id").collect()))
        got, seen = [], []
        for unit in _bucket_pieces(files, {}, local_k):
            seen.append(unit[0][0])
            for bucket, batch in unit:
                assert bucket == seen[-1]  # one bucket per unit
                got += [(bucket, d)
                        for d in batch.column(batch.schema.get_field_index("doc_id")).to_pylist()]
        assert spark_k == local_k == want_k, size
        assert sorted(got) == want, size
        assert len(seen) == len(set(seen))  # each bucket's rows in one unit
        assert got == sorted(got, key=lambda r: (r[0].encode(), r[1].encode()))
        # the label holds the whole salt: distinct salts, distinct buckets
        salt = {d: zlib.crc32(d.encode()) % want_k[source[d]] for d in ids}
        assert all(b == f"{source[d]}_s{salt[d]:03d}" for b, d in got)
        assert len({b for b, _ in got}) == len({(source[d], salt[d]) for d in ids})
    assert want_k[head] > 1000 and len({b for b, _ in got if b.startswith(head)}) > 1000
