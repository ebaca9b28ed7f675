"""Token-chunk codec: bit-identical round trips incl. FIXTURES.md §7 token
edge cases (length-1, all-identical, int32 boundary, empty arrays). The
read paths that skip the full decode — tokens of some rows
(``decode_token_rows``) and the ANY-match row test on the encoded
streams (``token_docs_with_any``) — answer what the full decode does,
and a chunk whose streams disagree with its doc count raises on them."""

import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from poc_parquet_aggregator_spark.encode.chunk import (
    GROUP_SMALL,
    decode_token_chunk,
    decode_token_rows,
    encode_token_chunk,
    token_docs_with_any,
)
from poc_parquet_aggregator_spark.sources import generate_token_table


def _flat(table):
    flat = table.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int32)
    lengths = table.column("n_tok").to_numpy().astype(np.int32)
    return flat, lengths


CASES = [
    (np.array([], np.int32), np.array([], np.int32)),
    (np.array([5], np.int32), np.array([1], np.int32)),
    (np.array([1, 1, 1, 2, 3], np.int32), np.array([3, 0, 2], np.int32)),
    (np.array([-(2**31), 2**31 - 1], np.int32), np.array([2], np.int32)),
    (np.full(5000, 42, np.int32), np.array([4096, 904], np.int32)),
    (np.zeros(10, np.int32), np.array([0, 0, 10, 0], np.int32)),
]


@pytest.mark.parametrize("flat,lengths", CASES)
@pytest.mark.parametrize("zstd", [True, False])
def test_edge_cases(flat, lengths, zstd):
    blob, meta = encode_token_chunk(flat, lengths, zstd=zstd)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)
    assert meta["n_tokens"] == len(flat)


def test_generated_table_roundtrip_and_ratio():
    t = generate_token_table(5000, seed=42)
    flat, lengths = _flat(t)
    blob, meta = encode_token_chunk(flat, lengths)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)
    # lightweight+zstd must at least beat raw int32
    assert len(blob) < 0.5 * 4 * len(flat)


def test_determinism():
    t = generate_token_table(2000, seed=7)
    flat, lengths = _flat(t)
    b1, _ = encode_token_chunk(flat, lengths)
    b2, _ = encode_token_chunk(flat, lengths)
    assert b1 == b2  # stable codec choice + stable bytes → exact resume


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=0,
            max_size=50,
        ),
        min_size=0,
        max_size=30,
    )
)
def test_property_roundtrip(docs):
    flat = np.array([x for d in docs for x in d], dtype=np.int32)
    lengths = np.array([len(d) for d in docs], dtype=np.int32)
    blob, _ = encode_token_chunk(flat, lengths)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)



def _has_any(ids: list[int], tokens: "pa.ListArray") -> np.ndarray:
    """Per-doc ANY-match of ``ids`` via one cumsum over the token hit mask
    (empty-doc-safe, unlike reduceat at repeated offsets): the reference
    ``token_docs_with_any`` is checked against."""
    flat = tokens.values.to_numpy()
    offsets = tokens.offsets.to_numpy()
    hit = flat == ids[0] if len(ids) == 1 else np.isin(flat, ids)
    cs = np.zeros(len(flat) + 1, dtype=np.int64)
    np.cumsum(hit, out=cs[1:])
    return cs[offsets[1:]] > cs[offsets[:-1]]


def _assert_rows_and_tests(blob: bytes, row_sets, id_sets) -> None:
    """Every row set's tokens and every id set's hit mask, against the
    full decode."""
    flat, lengths = decode_token_chunk(blob)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    for rows in row_sets:
        got_flat, got_len = decode_token_rows(blob, rows)
        want = [flat[offsets[r] : offsets[r + 1]] for r in rows]
        assert np.array_equal(got_len, lengths[np.asarray(rows, dtype=np.int64)]), rows
        assert np.array_equal(got_flat, np.concatenate(want) if want else flat[:0]), rows
        assert got_flat.dtype == got_len.dtype == np.int32
    tokens = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(flat))
    for ids in id_sets:
        assert np.array_equal(token_docs_with_any(blob, ids), _has_any(ids, tokens)), ids


# every doc SMALL (span <= 255, no long runs) with frames at both int32 ends
ALL_SMALL = [
    [2**31 - 1, 2**31 - 256, 2**31 - 3, 2**31 - 100],
    [-(2**31), -(2**31) + 255, -(2**31) + 17],
    [5, 6],
    [],
    [-(2**31) + 1, -(2**31)],
]


def _ids_for(flat: np.ndarray) -> list[list[int]]:
    """Id sets: held ids, ids outside every stream's frame (the int32
    ends, far negatives) and mixes of both."""
    held = sorted({int(x) for x in flat[:: max(1, len(flat) // 3)]})
    outside = [2**31 - 1, -(2**31), 70_000, -1]
    return [held[:1] or [0], held, outside, [*held, *outside], [2**31 - 2]]


@pytest.mark.parametrize("zstd", [True, False], ids=["zstd", "bare"])
@pytest.mark.parametrize("case", range(len(CASES) + 2))
def test_rows_and_token_tests_match_the_full_decode(case, zstd):
    """Empty docs, int32 boundaries, one run, an all-SMALL chunk with
    int32-extreme frames and a generated mix of every regime."""
    if case < len(CASES):
        flat, lengths = CASES[case]
    elif case == len(CASES):
        flat = np.array([x for d in ALL_SMALL for x in d], dtype=np.int32)
        lengths = np.array([len(d) for d in ALL_SMALL], dtype=np.int32)
    else:
        flat, lengths = _flat(generate_token_table(600, seed=5))
    blob, meta = encode_token_chunk(flat, lengths, zstd=zstd)
    if case == len(CASES):
        assert meta[f"n_values_g{GROUP_SMALL}"] == len(flat)
    n = len(lengths)
    rows = [[], list(range(n)), list(range(0, n, 2)), [n - 1] if n else [], list(range(n))[::-1]]
    _assert_rows_and_tests(blob, rows, _ids_for(flat))


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=40),
        max_size=25,
    ),
    st.data(),
)
def test_rows_and_token_tests_property(docs, data):
    flat = np.array([x for d in docs for x in d], dtype=np.int32)
    lengths = np.array([len(d) for d in docs], dtype=np.int32)
    blob, _ = encode_token_chunk(flat, lengths)
    rows = sorted(data.draw(st.sets(st.integers(0, max(len(docs) - 1, 0)))) if docs else [])
    held = st.sampled_from(flat.tolist()) if len(flat) else st.integers(-5, 5)
    ids = data.draw(st.lists(st.one_of(held, st.integers(-(2**31), 2**31 - 1)),
                             min_size=1, max_size=5))
    _assert_rows_and_tests(blob, [rows], [ids])


@pytest.mark.parametrize("delta", [1, -1])
def test_streams_that_disagree_with_n_docs_raise(delta):
    """A chunk header declaring another doc count than its streams hold
    raises on the rows path and the token test, as on the full decode."""
    flat, lengths = _flat(generate_token_table(50, seed=9))
    blob, _ = encode_token_chunk(flat, lengths)
    (n_docs,) = struct.unpack_from("<I", blob, 1)
    bad = blob[:1] + struct.pack("<I", n_docs + delta) + blob[5:]
    for read in (decode_token_chunk, lambda b: decode_token_rows(b, [0, 1]),
                 lambda b: token_docs_with_any(b, [int(flat[0])])):
        with pytest.raises(ValueError, match="disagree"):
            read(bad)
