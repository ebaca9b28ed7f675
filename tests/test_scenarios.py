"""Scenario corpus for the encode pipeline: shaped inputs with pinned
expected outcomes, mirroring the reference's golden-manifest discipline
(/root/reference/test-manifests/ocp-only/01-basic-pod/manifest.yml:43-48 —
each scenario ships its expected totals). Every scenario pins the
content-determined manifest totals (n_docs, n_tokens, bytes_in), the codec
family the shape must select, decode bit-identity, and checksum stability
across a re-encode (the lineage checksum is chunk-boundary-dependent, so
the invariant is determinism, not a literal).
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from poc_parquet_aggregator_spark.encode import (
    decode_verify,
    encode_dataset,
    encode_dataset_by_source,
    read_manifest,
    salted,
)
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import token_table_schema

VOCAB = 50257


@pytest.fixture(scope="module")
def spark():
    yield get_spark(
        "scenario_tests", cores=4, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def _table(lengths: np.ndarray, flat: np.ndarray, sources=None) -> pa.Table:
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    assert offsets[-1] == len(flat)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()),
        pa.array(flat.astype(np.int32), type=pa.int32()),
    )
    return pa.table(
        {
            "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)], type=pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(lengths.astype(np.int32), type=pa.int32()),
            "source": pa.array(
                sources if sources is not None else ["srcA"] * n, type=pa.string()
            ),
        },
        schema=token_table_schema(),
    )


def _all_runny() -> pa.Table:
    # 2000 docs of 64 tokens in runs of 16 → RLE must win the value stream
    rng = np.random.default_rng(1)
    lengths = np.full(2000, 64, dtype=np.int64)
    flat = np.repeat(rng.integers(0, VOCAB, 2000 * 4), 16)
    return _table(lengths, flat)


def _all_small_band() -> pa.Table:
    # ids confined to [7000, 7064) → per-doc FOR + bit-pack territory
    rng = np.random.default_rng(2)
    lengths = np.full(2000, 100, dtype=np.int64)
    flat = 7000 + rng.integers(0, 64, 2000 * 100)
    return _table(lengths, flat)


def _empty_docs() -> pa.Table:
    # half the docs empty (n_tok = 0), interleaved
    rng = np.random.default_rng(3)
    lengths = np.where(np.arange(3000) % 2 == 0, 0, 50).astype(np.int64)
    flat = rng.integers(0, VOCAB, int(lengths.sum()))
    return _table(lengths, flat)


def _single_giant_doc() -> pa.Table:
    # one 1M-token doc plus a few tiny ones: a doc far larger than the
    # 2048-row Arrow batch target must still encode/decode exactly
    rng = np.random.default_rng(4)
    lengths = np.array([1_000_000, 1, 2, 3], dtype=np.int64)
    flat = rng.integers(0, VOCAB, int(lengths.sum()))
    return _table(lengths, flat)


def _max_vocab() -> pa.Table:
    # full-int32 positive range → 32-bit widths, no downcast possible
    rng = np.random.default_rng(5)
    lengths = np.full(1000, 128, dtype=np.int64)
    flat = rng.integers(0, 2**31 - 1, 1000 * 128)
    return _table(lengths, flat)


def _all_identical() -> pa.Table:
    # maximal redundancy: every doc the same constant run
    lengths = np.full(2000, 256, dtype=np.int64)
    flat = np.full(2000 * 256, 12345, dtype=np.int64)
    return _table(lengths, flat)


def _len1_docs() -> pa.Table:
    # per-doc overhead regime: 20k docs of exactly one token
    rng = np.random.default_rng(6)
    lengths = np.ones(20000, dtype=np.int64)
    flat = rng.integers(0, VOCAB, 20000)
    return _table(lengths, flat)


# scenario → (builder, expected totals, codec-key substring that must appear)
SCENARIOS = {
    "all_runny": (_all_runny, {"n_docs": 2000, "n_tokens": 128000}, "values_g1:rle"),
    "all_small_band": (
        _all_small_band,
        {"n_docs": 2000, "n_tokens": 200000},
        "values_g2:",
    ),
    "empty_docs": (_empty_docs, {"n_docs": 3000, "n_tokens": 75000}, "lengths:"),
    "single_giant_doc": (
        _single_giant_doc,
        {"n_docs": 4, "n_tokens": 1000006},
        "values_g",
    ),
    "max_vocab": (_max_vocab, {"n_docs": 1000, "n_tokens": 128000}, "values_g0:"),
    # constant stream: classified runny (g1); the exact-size selector then
    # legitimately prefers FOR (width-0 residuals) over RLE run pairs
    "all_identical": (
        _all_identical,
        {"n_docs": 2000, "n_tokens": 512000},
        "values_g1:",
    ),
    "len1_docs": (_len1_docs, {"n_docs": 20000, "n_tokens": 20000}, "lengths:"),
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario_golden(spark, tmp_path, name):
    builder, expect, codec_key = SCENARIOS[name]
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(builder(), f"{src}/tokens-000000000000.parquet", compression="zstd")
    out = str(tmp_path / "enc")
    m = encode_dataset(spark, src, out)
    for k, v in expect.items():
        assert m[k] == v, (name, k, m[k], v)
    assert decode_verify(spark, src, out)["bit_identical"], name
    rec = read_manifest(out)["tokens-000000000000"]
    assert any(codec_key in k for k in rec["codecs"]), (name, rec["codecs"])
    # checksum determinism: wipe and re-encode → identical lineage record,
    # apart from its time and the fresh names of the files it names
    def content(rec):
        named = {"parts": len(rec["parts"]), "tok_filter": "tok_filter" in rec}
        return {**{k: v for k, v in rec.items() if k != "committed_at"}, **named}

    first = content(rec)
    shutil.rmtree(out)
    encode_dataset(spark, src, out)
    assert content(read_manifest(out)["tokens-000000000000"]) == first


def test_scenario_one_source_skew(spark, tmp_path, monkeypatch):
    """Everything in ONE source: the salted by-source mode must still split
    it into balanced buckets (the whole point of the salt)."""
    rng = np.random.default_rng(7)
    lengths = np.full(8000, 64, dtype=np.int64)
    flat = rng.integers(0, VOCAB, int(lengths.sum()))
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(
        _table(lengths, flat, sources=["only"] * 8000),
        f"{src}/tokens-000000000000.parquet",
        compression="zstd",
    )
    out = str(tmp_path / "enc")
    # buckets of a quarter of the source's 512,000 tokens: 4 salts
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 8000 * 64 // 4)
    m = encode_dataset_by_source(spark, src, out)
    assert m["buckets_total"] == 4
    assert m["max_bucket_token_share"] < 0.40  # 4 salts → ~0.25 + slack
    assert decode_verify(spark, src, out)["bit_identical"]
