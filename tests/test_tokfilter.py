"""Token-membership filters (encode/tokfilter.py) + the contains_token
read path: unit semantics, hypothesis properties (no false negatives,
exact-mode no false positives), end-to-end equality against a plain
array_contains over the raw input through each read runner, measured
pruning, and pre-upgrade
compatibility (encodes that predate the filter columns stay readable
and exact)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from poc_parquet_aggregator_spark.encode import (
    encode_dataset,
    encode_dataset_by_source,
    plan_read,
    read_manifest,
    salted,
    token_read_stats,
)
from poc_parquet_aggregator_spark.encode.tokfilter import (
    EXACT_SPAN_LIMIT,
    MODE_EXACT,
    MODE_HASHED,
    _HDR,
    _bits,
    _hash_slots,
    _pack,
    _parse,
    build_token_filter,
    merge_token_filters,
    token_filter_bounds,
    token_filter_contains_any,
)
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import write_token_table


# ----------------------------------------------------------------- unit


def token_filter_contains(blob: bytes, token: int) -> bool:
    """Per-id reference probe: may the filtered value set contain
    ``token``? The ANY-match probe the engine uses is checked against it."""
    mode, lo, hi, nbits, payload = _parse(blob)
    if token < lo or token > hi:
        return False
    bits = _bits(payload, nbits)
    if mode == MODE_EXACT:
        j = token - lo
    else:
        j = int(_hash_slots(np.asarray([token]), nbits)[0])
    return bool((bits[j >> 3] >> (j & 7)) & 1)


def test_exact_mode_semantics():
    rng = np.random.default_rng(3)
    vals = rng.integers(500, 4000, 5000).astype(np.int32)
    f = build_token_filter(vals)
    assert _parse(f)[0] == MODE_EXACT
    assert token_filter_bounds(f) == (int(vals.min()), int(vals.max()))
    s = set(vals.tolist())
    for t in list(s)[:100]:
        assert token_filter_contains(f, t)
    # exact mode: NO false positives, in or out of range
    for t in [t for t in range(500, 4000) if t not in s][:100]:
        assert not token_filter_contains(f, t)
    for t in (-1, 0, 499, 4001, 2**31 - 1, -(2**31)):
        assert token_filter_contains(f, t) == (t in s)


def test_contains_any_equals_per_id_loop():
    """token_filter_contains_any (one parse + one decompression) must give
    the exact verdict of a loop over the per-id reference probe, across
    both filter modes."""
    rng = np.random.default_rng(11)
    for vals in (
        rng.integers(500, 4000, 5000).astype(np.int32),  # exact mode
        rng.integers(0, 2**30, 5000).astype(np.int32),  # hashed mode
        np.zeros(0, dtype=np.int32),  # empty filter
    ):
        f = build_token_filter(vals)
        probes = rng.integers(-10, 5000, size=(40, 3)).tolist() + [
            [int(v) for v in vals[:3]] if vals.size else [1, 2, 3]
        ]
        for ids in probes:
            want = any(token_filter_contains(f, t) for t in ids)
            assert token_filter_contains_any(f, ids) == want, (ids, vals[:5])


def test_contains_token_out_of_int32_raises():
    from poc_parquet_aggregator_spark.encode.pipeline import _token_id_list

    import pytest as _pt

    with _pt.raises(ValueError, match="int32"):
        _token_id_list(2**31)
    with _pt.raises(ValueError, match="int32"):
        _token_id_list([5, -(2**31) - 1])
    assert _token_id_list([7, 3, 7]) == [3, 7]


def test_hashed_mode_no_false_negatives():
    rng = np.random.default_rng(4)
    vals = rng.integers(-(2**31), 2**31 - 1, 20_000).astype(np.int32)
    f = build_token_filter(vals)
    assert _parse(f)[0] == MODE_HASHED
    for t in vals[:500].tolist():
        assert token_filter_contains(f, t)


def test_empty_filter_rejects_everything():
    f = build_token_filter(np.zeros(0, dtype=np.int32))
    lo, hi = token_filter_bounds(f)
    assert hi < lo
    for t in (-1, 0, 1, 50256):
        assert not token_filter_contains(f, t)


def test_merge_exact_stays_exact_and_merge_mixed_never_drops():
    rng = np.random.default_rng(5)
    a = rng.integers(0, 2000, 3000).astype(np.int32)
    b = rng.integers(40_000, 50_257, 3000).astype(np.int32)
    fa, fb = build_token_filter(a), build_token_filter(b)
    m = merge_token_filters([fa, fb, build_token_filter(np.zeros(0, np.int32))])
    assert _parse(m)[0] == MODE_EXACT  # union span 50257 < EXACT_SPAN_LIMIT
    union = set(a.tolist()) | set(b.tolist())
    for t in list(union)[:200]:
        assert token_filter_contains(m, t)
    # a value between the two bands is absent — exact merge proves it
    gap = next(t for t in range(2001, 40_000) if t not in union)
    assert not token_filter_contains(m, gap)
    # mixed exact+hashed merge degrades to hashed but keeps every member
    wide = rng.integers(-(2**31), 2**31 - 1, 10_000).astype(np.int32)
    fw = build_token_filter(wide)
    mh = merge_token_filters([fa, fw])
    assert _parse(mh)[0] == MODE_HASHED
    for t in list(set(a.tolist()))[:200] + wide[:200].tolist():
        assert token_filter_contains(mh, t)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        min_size=0,
        max_size=400,
    ),
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
)
def test_property_no_false_negatives_and_exact_exactness(vals, probe):
    arr = np.asarray(vals, dtype=np.int32)
    f = build_token_filter(arr)
    s = set(vals)
    for t in s:
        assert token_filter_contains(f, int(t))
    mode = _parse(f)[0]
    if mode == MODE_EXACT:
        assert token_filter_contains(f, int(probe)) == (probe in s)
    elif probe in s:
        assert token_filter_contains(f, int(probe))
    # merging the filter with itself changes nothing semantically
    m = merge_token_filters([f, f])
    for t in s:
        assert token_filter_contains(m, int(t))


def test_mode_switch_at_span_limit():
    lo = 7
    just_fits = np.asarray([lo, lo + EXACT_SPAN_LIMIT - 1], dtype=np.int32)
    assert _parse(build_token_filter(just_fits))[0] == MODE_EXACT
    overflow = np.asarray([lo, lo + EXACT_SPAN_LIMIT], dtype=np.int32)
    assert _parse(build_token_filter(overflow))[0] == MODE_HASHED


def _ids_of_bitmap(lo: int, bitmap: bytes) -> np.ndarray:
    present = np.unpackbits(np.frombuffer(bitmap, dtype=np.uint8), bitorder="little")
    return lo + np.flatnonzero(present)


def test_bitmap_starting_with_zstd_id_is_exact():
    """Regression: an exact filter whose packed bitmap starts with 0x05 (the
    ZSTD codec id) and does not compress was stored unframed and misread
    as a zstd frame, so every probe and merge raised."""
    rng = np.random.default_rng(21)
    bitmap = bytes([0x05]) + rng.integers(0, 256, 4000, dtype=np.uint8).tobytes()
    ids = _ids_of_bitmap(1000, bitmap).astype(np.int32)
    f = build_token_filter(ids)
    assert _parse(f)[0] == MODE_EXACT
    s = set(ids.tolist())
    probes = range(990, int(ids.max()) + 10)
    assert [token_filter_contains(f, t) for t in probes] == [t in s for t in probes]
    # 0x05 sets bits 0 and 2: ids 1000 and 1002 are in, 999/1001/1003 out
    assert token_filter_contains_any(f, [999, 1001, 1002])
    assert not token_filter_contains_any(f, [999, 1001, 1003])
    other = np.asarray([5, 70_000], dtype=np.int32)
    m = merge_token_filters([f, build_token_filter(other)])
    assert _parse(m)[0] == MODE_EXACT
    union = s | {5, 70_000}
    for t in list(range(0, 1100)) + [int(ids.max()), 70_000, 70_001]:
        assert token_filter_contains(m, t) == (t in union)


def test_old_filter_layout_rejected():
    """Filters from before the blob framing (modes 1/2, unframed bitmap)
    must fail loudly with a re-encode hint, never be guessed at."""
    bits = np.packbits(np.ones(64, dtype=np.bool_), bitorder="little").tobytes()
    for mode in (1, 2):
        old = _HDR.pack(mode, 0, 63, 64) + bits
        with pytest.raises(ValueError, match="re-encode"):
            token_filter_contains(old, 3)
        with pytest.raises(ValueError, match="re-encode"):
            token_filter_contains_any(old, [3])
        with pytest.raises(ValueError, match="re-encode"):
            merge_token_filters([build_token_filter(np.arange(4, dtype=np.int32)), old])


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.binary(max_size=300),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=-(2**20), max_value=2**20),
)
def test_filter_payload_arbitrary_bitmaps(first, body, repeat, lo):
    """Exact-mode bitmaps take arbitrary bytes (every first byte, random
    or repetitive): probes, ANY-probes and merges stay exact; a truncated
    filter raises."""
    bitmap = bytes([first]) + body * repeat
    nbits = 8 * len(bitmap)
    present = np.unpackbits(np.frombuffer(bitmap, dtype=np.uint8), bitorder="little")
    f = _pack(MODE_EXACT, lo, lo + nbits - 1, nbits, present.astype(np.bool_))
    s = set(_ids_of_bitmap(lo, bitmap).tolist())
    probes = range(lo - 2, lo + min(nbits, 64) + 2)
    assert [token_filter_contains(f, t) for t in probes] == [t in s for t in probes]
    assert token_filter_contains_any(f, list(probes)) == bool(s & set(probes))
    m = merge_token_filters([f, build_token_filter(np.asarray([lo - 5], dtype=np.int32))])
    for t in list(probes) + [lo - 5]:
        assert token_filter_contains(m, t) == (t in s or t == lo - 5)
    with pytest.raises(ValueError):
        token_filter_contains(f[:-1], lo)
    with pytest.raises(ValueError):
        token_filter_contains_any(f[:-1], [lo])


# ---------------------------------------------------------- end to end

N_DOCS = 3000
DOCS_PER_FILE = 500


@pytest.fixture(scope="module")
def spark():
    yield get_spark(
        "tokfilter_tests",
        cores=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


@pytest.fixture(scope="module")
def token_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tokens")
    write_token_table(str(d), N_DOCS, seed=17, docs_per_file=DOCS_PER_FILE)
    return str(d)


@pytest.fixture(scope="module")
def enc_dir(spark, token_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "out")
    encode_dataset(spark, token_dir, out)
    return out


def _expected_ids(spark, token_dir, tid):
    return [
        r[0]
        for r in spark.read.parquet(token_dir)
        .filter(F.array_contains("tokens", F.lit(int(tid))))
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    ]


def _rare_and_absent(token_dir):
    """A token held by exactly one input file, and one held by none."""
    per_file_sets = []
    for f in sorted(glob.glob(os.path.join(token_dir, "*.parquet"))):
        t = pq.read_table(f, columns=["tokens"])
        vals = np.concatenate(
            [c.flatten().to_numpy(zero_copy_only=False) for c in t.column("tokens").chunks]
        )
        per_file_sets.append(set(np.unique(vals).tolist()))
    everywhere = set().union(*per_file_sets)
    rare = next(
        t
        for t in sorted(everywhere)
        if sum(t in s for s in per_file_sets) == 1
    )
    absent = next(t for t in range(50_257) if t not in everywhere)
    return rare, absent


def _doc_ids(df) -> list[str]:
    return [r[0] for r in df.select("doc_id").orderBy("doc_id").collect()]


def test_contains_token_matches_plain_filter_and_prunes(runners, spark, token_dir, enc_dir):
    rare, absent = _rare_and_absent(token_dir)
    want = _expected_ids(spark, token_dir, rare)
    for runner, read in runners.items():
        got = _doc_ids(read(spark, enc_dir, contains_token=rare))
        assert got == want and got, runner
        # absent id: nothing decoded, nothing returned
        assert read(spark, enc_dir, contains_token=absent).count() == 0, runner
    # the sidecar bitmaps are exact for vocab-sized spans: every file but
    # the one holding the token must be pruned driver-side
    st_ = token_read_stats(enc_dir, rare)
    assert st_["files_total"] == N_DOCS // DOCS_PER_FILE
    assert st_["files_kept"] == 1, st_
    st0 = token_read_stats(enc_dir, absent)
    assert st0["files_kept"] == 0, st0


def test_contains_token_composes_with_other_prunes(runners, spark, token_dir, enc_dir):
    rare, _ = _rare_and_absent(token_dir)
    exp = (
        spark.read.parquet(token_dir)
        .filter(F.array_contains("tokens", F.lit(int(rare))) & (F.col("n_tok") >= 10))
        .select("doc_id", "n_tok")
        .orderBy("doc_id")
        .collect()
    )
    for runner, read in runners.items():
        got = (
            read(
                spark, enc_dir, contains_token=rare, n_tok_range=(10, 1 << 30),
                columns=["doc_id", "n_tok"],
            )
            .orderBy("doc_id")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in exp], runner


def test_contains_token_on_salted_layout(runners, spark, tmp_path, monkeypatch):
    # bigger corpus so the salted buckets clear the filter SIZE GUARD
    # (tiny chunks drop their bitmap by design; ~300 docs/bucket keeps it)
    src = str(tmp_path / "tokens_big")
    write_token_table(src, 12_000, seed=23, docs_per_file=3000)
    out = str(tmp_path / "enc_salted")
    monkeypatch.setattr(salted, "_BUCKET_TOKENS", 1 << 16)  # 1-2 salts per small source
    encode_dataset_by_source(spark, src, out)
    rare, _ = _rare_and_absent(src)
    want = _expected_ids(spark, src, rare)
    for runner, read in runners.items():
        assert _doc_ids(read(spark, out, contains_token=rare)) == want, runner
    st_ = token_read_stats(out, rare)
    assert st_["files_kept"] < st_["files_total"], st_


def test_contains_token_set_any_semantics(runners, spark, token_dir, enc_dir):
    """A banned-id SET (the realistic audit shape): docs containing ANY of
    the ids, equal to an arrays_overlap over the raw input; absent ids in
    the set must not weaken pruning for the rare one."""
    rare, absent = _rare_and_absent(token_dir)
    ids = [rare, absent]
    exp = (
        spark.read.parquet(token_dir)
        .filter(F.arrays_overlap("tokens", F.array(*[F.lit(int(t)) for t in ids])))
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    )
    for runner, read in runners.items():
        got = _doc_ids(read(spark, enc_dir, contains_token=ids))
        assert got == [r[0] for r in exp] and got, runner
        # single-id behaviour unchanged through the list form
        one = read(spark, enc_dir, contains_token=[rare]).count()
        assert one == read(spark, enc_dir, contains_token=rare).count(), runner
    # the absent member adds no files: still only the rare token's file
    st_ = token_read_stats(enc_dir, ids)
    assert st_["files_kept"] == 1, st_


def test_pre_upgrade_encode_still_reads_exactly(runners, spark, token_dir, tmp_path):
    """Strip one committed file down to the pre-filter format (no tok_*
    chunk columns, no manifest bounds, no sidecar): the conservative-keep
    rules must decode it and the result must stay exact, and the plan's
    driver keep-list must keep the NULL-bound record."""
    out = str(tmp_path / "enc_mixed")
    encode_dataset(spark, token_dir, out)
    stem = sorted(read_manifest(out))[0]
    rec_path = os.path.join(out, "_manifest", f"{stem}.json")
    with open(rec_path) as f:
        rec = json.load(f)
    for p in rec["parts"]:
        t = pq.read_table(os.path.join(out, p))
        t = t.drop_columns(["tok_min", "tok_max", "tok_filter"])
        pq.write_table(t, os.path.join(out, p), compression="none", use_dictionary=False)
    os.remove(os.path.join(out, rec["tok_filter"]))
    for k in ("tok_min", "tok_max", "tok_filter"):
        rec.pop(k, None)
    with open(rec_path, "w") as f:
        json.dump(rec, f)
    # pick a token that lives ONLY in the stripped file: zone/sidecar
    # pruning can't help, the conservative keep must carry it
    per_file = {}
    for fpath in sorted(glob.glob(os.path.join(token_dir, "*.parquet"))):
        t = pq.read_table(fpath, columns=["tokens"])
        vals = np.concatenate(
            [c.flatten().to_numpy(zero_copy_only=False) for c in t.column("tokens").chunks]
        )
        per_file[os.path.basename(fpath).rsplit(".", 1)[0]] = set(
            np.unique(vals).tolist()
        )
    others = set().union(*(s for k, s in per_file.items() if k != stem))
    only_here = next(iter(sorted(per_file[stem] - others)))
    want = _expected_ids(spark, token_dir, only_here)
    for runner, read in runners.items():
        got = _doc_ids(read(spark, out, contains_token=only_here))
        assert got == want and got, runner
    assert stem in plan_read(out, tok_ids=only_here).stems
    shutil.rmtree(out)
