"""Codec unit + property tests: encode→decode bit-identical on adversarial
arrays (SURVEY.md §5 — the reference's expected-results oracle discipline,
/root/reference/src/expected_results.py:309-431, applied per codec)."""

import re
import struct
from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa

from poc_parquet_aggregator_spark.codecs import (
    CODEC_NAMES,
    decode_ints,
    decode_strings_arrow,
    encode_ints,
    encode_ints_auto,
    encode_strings_arrow,
    unwrap_zstd,
    wrap_zstd,
)
from poc_parquet_aggregator_spark.codecs import ints as CI
from poc_parquet_aggregator_spark.codecs import strings as CS
from poc_parquet_aggregator_spark.codecs.ints import estimate_sizes, int_stats

ALL_INT_CODECS = [CI.PLAIN, CI.BITPACK, CI.FOR, CI.RLE, CI.DICT, CI.DELTA]
ALL_STR_CODECS = [CS.STR_PLAIN, CS.STR_DICT, CS.FSST]


# ------------------------------------------------------- FSST test writer
#
# The encoder no longer writes FSST (ARCHITECTURE §2, "FSST is
# decode-only"); this is the writer earlier builds used, kept to make FSST
# blobs for the decoder tests: up to 254 symbols of 1-8 bytes learned
# from the first 512 strings by iterative re-parse + pair-merge (FSST
# §3.3 shape), greedy longest-match encode through a regex alternation,
# escape byte 0xFF for bytes no symbol covers.

_FSST_MAX_SYMBOLS = 254
_FSST_MAX_SYMBOL_LEN = 8


def _train_symbols(sample_strings: list[bytes]) -> list[bytes]:
    if not sample_strings:
        return []
    counts = Counter(b for s in sample_strings for b in s)
    table = [bytes([b]) for b, _ in counts.most_common(_FSST_MAX_SYMBOLS)]
    for _ in range(5):
        pattern = _compile_pattern(table)
        sym_freq: Counter = Counter()
        pair_freq: Counter = Counter()
        for d in sample_strings:
            toks = pattern.findall(d)
            sym_freq.update(toks)
            for a, b in zip(toks, toks[1:]):
                if len(a) + len(b) <= _FSST_MAX_SYMBOL_LEN:
                    pair_freq[a + b] += 1
        gain: Counter = Counter()
        for s, c in sym_freq.items():
            gain[s] = (len(s) - 1) * c
        for s, c in pair_freq.items():
            gain[s] += (len(s) - 1) * c // 2  # discount un-realized pairs
        singles = [s for s in gain if len(s) == 1]
        multis = sorted((s for s in gain if len(s) > 1), key=lambda s: (-gain[s], s))
        table = (singles + multis)[:_FSST_MAX_SYMBOLS]
    table.sort(key=lambda s: (-len(s), s))
    return table


def _compile_pattern(table: list[bytes]) -> "re.Pattern[bytes]":
    # longest-first alternation → greedy longest match at each position;
    # trailing '.' (DOTALL) consumes bytes not covered by any symbol.
    pat = b"|".join(re.escape(s) for s in sorted(table, key=len, reverse=True))
    return re.compile((pat + b"|" if pat else b"") + b"(?s:.)")


def fsst_blob(arr: "pa.Array") -> bytes:
    """An FSST blob of a non-null string array, in the stored format:
    ``FSST | u32 n | u8 n_symbols | children(symbols, encoded lengths) |
    encoded payload``. Symbols never span strings."""
    payload, lens = CS.utf8_buffers(arr)
    payload = bytes(payload)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    strings = [payload[offs[i] : offs[i + 1]] for i in range(len(lens))]
    table = _train_symbols(strings[:512])
    pattern = _compile_pattern(table)
    code_of = {s: bytes([i]) for i, s in enumerate(table)}

    def repl(m: "re.Match[bytes]") -> bytes:
        return code_of.get(m.group(0)) or b"\xff" + m.group(0)

    pieces = [pattern.sub(repl, s) for s in strings]
    enc_lens = np.array([len(p) for p in pieces], dtype=np.int32)
    return (
        bytes([CS.FSST]) + struct.pack("<I", len(lens)) + bytes([len(table)])
        + CI.children(b"".join(bytes([len(s)]) + s for s in table),
                      encode_ints_auto(enc_lens, delta=False)[0])
        + b"".join(pieces)
    )


def build_strings(arr: "pa.Array", codec: int) -> bytes:
    """``CS.build_strings``, with FSST blobs from the test writer."""
    return fsst_blob(arr) if codec == CS.FSST else CS.build_strings(arr, codec)


ADVERSARIAL = {
    "empty": np.array([], np.int32),
    "single": np.array([7], np.int32),
    "single_run": np.full(1000, -3, np.int32),
    "max_card": np.arange(10000, dtype=np.int32),
    "negatives": np.array([-1, -(2**31), 2**31 - 1, 0], np.int32),
    "int32_boundary": np.array([2**31 - 1, -(2**31)], np.int32),
    "alternating": np.tile([0, 1], 5000).astype(np.int32),
    "zipf": (np.random.default_rng(0).zipf(1.3, 50000) % 50257).astype(np.int32),
    # width-16 layout boundary: sorted keeps byte planes, uniform/zipf pick
    # the hi-grouped lo plane — both must roundtrip and size-estimate exactly
    "zipf_sorted": np.sort(
        (np.random.default_rng(1).zipf(1.3, 20000) % 50257).astype(np.int32)
    ),
    "wide16_uniform": np.random.default_rng(2)
    .integers(0, 65536, 20000)
    .astype(np.int32),
}


@pytest.mark.parametrize("name", list(ADVERSARIAL))
@pytest.mark.parametrize("codec", ALL_INT_CODECS)
def test_int_roundtrip_every_codec(name, codec):
    a = ADVERSARIAL[name]
    out = decode_ints(encode_ints(a, codec))
    assert out.dtype == np.int32
    assert np.array_equal(out, a)


@pytest.mark.parametrize("name", list(ADVERSARIAL))
def test_int_auto_and_zstd(name):
    a = ADVERSARIAL[name]
    blob, codec = encode_ints_auto(a)
    assert np.array_equal(decode_ints(blob), a)
    z = wrap_zstd(blob)
    assert np.array_equal(decode_ints(z), a)
    assert unwrap_zstd(z) == blob or z == blob


def test_estimates_are_exact():
    """The selector's size estimates equal actual encoded sizes — making
    argmin selection provably optimal within the family."""
    for name, a in ADVERSARIAL.items():
        stats = int_stats(a, with_delta=True)
        est = estimate_sizes(stats)
        for codec in ALL_INT_CODECS:
            actual = len(encode_ints(a, codec))
            if codec == CI.BITPACK and len(a) and a.min() < 0:
                continue  # promoted to FOR; estimate models the promotion
            if codec == CI.RLE:
                # RLE child value codec is itself auto-selected; estimate
                # assumes FOR child → actual may only be smaller
                assert actual <= est[codec] + 16, (name, CODEC_NAMES[codec])
            elif codec == CI.DELTA:
                # DELTA estimate = header + argmin of the delta stream's
                # child estimates; when RLE wins inside, the child's own
                # conservative (upper-bound) estimate carries over
                assert actual <= est[codec] + 16, (name, CODEC_NAMES[codec])
            else:
                assert actual == est[codec], (name, CODEC_NAMES[codec])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=0, max_size=300
    )
)
def test_int_property_roundtrip(xs):
    a = np.array(xs, dtype=np.int32)
    for codec in ALL_INT_CODECS:
        assert np.array_equal(decode_ints(encode_ints(a, codec)), a)
    blob, _ = encode_ints_auto(a)
    assert np.array_equal(decode_ints(wrap_zstd(blob)), a)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=0, max_size=100))
def test_string_property_roundtrip(xs):
    arr = pa.array(xs, type=pa.string())
    for codec in ALL_STR_CODECS:
        assert decode_strings_arrow(build_strings(arr, codec)).to_pylist() == xs
    blob, _ = encode_strings_arrow(arr)
    assert decode_strings_arrow(blob).to_pylist() == xs
    assert decode_strings_arrow(wrap_zstd(blob)).to_pylist() == xs


# ------------------------------------------------------------ blob framing

TRUNCATE_INPUT = np.repeat(
    np.random.default_rng(5).integers(0, 3000, 1250), 4
).astype(np.int32)  # 5000 ints with runs, non-negative: every codec applies


@pytest.mark.parametrize("codec", ALL_INT_CODECS)
def test_truncated_int_blob_raises(codec):
    blob = encode_ints(TRUNCATE_INPUT, codec)
    assert np.array_equal(decode_ints(blob), TRUNCATE_INPUT)
    for cut in (blob[:-1], blob[: len(blob) // 2]):
        with pytest.raises(ValueError):
            decode_ints(cut)


def _one_more_value(blob: bytes) -> bytes:
    """The blob with its header declaring one value more than it holds."""
    (n,) = struct.unpack_from("<I", blob, 1)
    return blob[:1] + struct.pack("<I", n + 1) + blob[5:]


@pytest.mark.parametrize("zstd", [False, True], ids=["bare", "zstd"])
@pytest.mark.parametrize("codec", ALL_INT_CODECS)
def test_random_access_on_a_bad_blob_raises(codec, zstd):
    """``take_ints`` and ``find_ints`` make the checks ``decode_ints``
    makes, before they answer anything: a cut blob, or one whose header
    declares more values than it holds, raises ValueError, also for a
    target outside the stream's frame."""
    blob = encode_ints(TRUNCATE_INPUT, codec)
    bad = [_one_more_value(blob)]
    if zstd:
        blob = wrap_zstd(blob)
        bad = [wrap_zstd(b) for b in bad]
    assert blob[0] == (CI.ZSTD if zstd else codec)
    asks = (lambda b: CI.take_ints(b, [0, 4999]), lambda b: CI.find_ints(b, [7]),
            lambda b: CI.find_ints(b, [-5]))
    for b in (blob[:-1], blob[: len(blob) // 2], *bad):
        for ask in asks:
            with pytest.raises(ValueError):
                ask(b)


FOR_LAYOUTS = ["packed16", "planes16", "grouped16", "planes32"]


def _for_layout(a: np.ndarray, layout: str) -> tuple[np.ndarray, bytes]:
    """(values, a FOR blob of them stored in ``layout``, whatever their
    count). The 16-bit layouts spread ``a`` over [0, 65535], ``planes32``
    adds the int32 extremes; the blob decodes to the values."""
    if layout == "planes32":
        a = np.concatenate(([-(2**31), 2**31 - 1], a)).astype(np.int32)
    else:
        a = np.concatenate(([0, 65535], a.astype(np.int64) % 65536)).astype(np.int32)
    ref = int(a.min())
    cells = a.view(np.uint32) - np.uint32(ref & 0xFFFFFFFF)
    lo, hi = (cells & 0xFF).astype(np.uint8), (cells >> 8).astype(np.uint8)
    bits, flag, payload = {
        "packed16": lambda: (16, 0, cells.astype("<u2").tobytes()),
        "planes16": lambda: (16, 0x80, lo.tobytes() + hi.tobytes()),
        "grouped16": lambda: (16, 0x40, lo[np.argsort(hi, kind="stable")].tobytes() + hi.tobytes()),
        "planes32": lambda: (32, 0x80, np.ascontiguousarray(
            cells.astype("<u4").view(np.uint8).reshape(-1, 4).T).tobytes()),
    }[layout]()
    blob = bytes([CI.FOR]) + struct.pack("<IqB", len(a), ref, bits | flag) + payload
    assert np.array_equal(decode_ints(blob), a)
    return a, blob


def _assert_random_access(blob: bytes, positions, targets) -> None:
    full = decode_ints(blob)
    p = np.asarray(positions, dtype=np.int64)
    got = CI.take_ints(blob, p)
    assert got.dtype == np.int32 and np.array_equal(got, full[p])
    assert np.array_equal(CI.find_ints(blob, targets), np.flatnonzero(np.isin(full, targets)))


_INT32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@settings(max_examples=300, deadline=None)
@given(st.lists(_INT32, max_size=300), st.sampled_from([*ALL_INT_CODECS, *FOR_LAYOUTS]),
       st.booleans(), st.data())
def test_random_access_property(xs, codec, zstd, data):
    """``take_ints(b, p) == decode_ints(b)[p]`` and ``find_ints(b, v) ==
    flatnonzero(isin(decode_ints(b), v))`` for every int codec and every
    FOR layout, zstd-wrapped or not, for any positions (repeated,
    unordered, a run) and any targets (held values, other int32s and
    values no int32 can be)."""
    a = np.array(xs, dtype=np.int32)
    a, blob = _for_layout(a, codec) if codec in FOR_LAYOUTS else (a, encode_ints(a, codec))
    if zstd:
        blob = wrap_zstd(blob)
    n = len(a)
    picks = data.draw(st.lists(st.integers(0, max(n - 1, 0)), max_size=60)) if n else []
    start = data.draw(st.integers(0, n)) if n else 0
    run = list(range(start, min(n, start + data.draw(st.integers(0, 40)))))
    held = st.sampled_from(a.tolist()) if n else _INT32
    targets = data.draw(st.lists(st.one_of(held, _INT32, st.integers(-(2**40), 2**40)), max_size=8))
    for positions in (picks, run, sorted(set(picks))):
        _assert_random_access(blob, positions, targets)


@pytest.mark.parametrize("layout", FOR_LAYOUTS)
@pytest.mark.parametrize("name", ["zipf", "wide16_uniform", "max_card"])
def test_random_access_on_large_streams(name, layout):
    """Large streams, so that a few runs of positions take the
    hi-grouped layout's prefix counts and a dense ask its full
    inversion; 70000 and -1 lie outside the 16-bit layouts' frame."""
    a, blob = _for_layout(ADVERSARIAL[name], layout)
    rng = np.random.default_rng(3)
    n = len(a)
    runs = CI.concat_ranges(np.sort(rng.choice(n - 300, 5, replace=False)), rng.integers(1, 300, 5))
    for positions in (runs, runs[::-1], rng.integers(0, n, 3 * n // 4), [n - 1, 0, 0], []):
        _assert_random_access(blob, positions, [*a[rng.integers(0, n, 3)].tolist(), 70000, -1])


def test_wrap_zstd_accepts_only_registered_blobs():
    compressible = bytes(range(256)) * 8
    for first in range(256):
        blob = bytes([first]) + compressible
        if first in CI.BLOB_IDS and first != CI.ZSTD:
            assert unwrap_zstd(wrap_zstd(blob)) == blob
        else:
            with pytest.raises(ValueError):
                wrap_zstd(blob)


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.binary(max_size=600),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 3, 15]),
)
def test_raw_blob_framing_property(first, body, repeat, level):
    """RAW blobs carry arbitrary bytes, every first byte included; wrapped
    or not they round-trip exactly, and a truncated zstd frame raises."""
    for data in (bytes([first]) + body, bytes([first]) + body * repeat):
        z = wrap_zstd(CI.raw_blob(data), level)
        assert z[0] in (CI.RAW, CI.ZSTD)
        assert CI.decode_raw(z) == data
        if z[0] == CI.ZSTD:
            for cut in (z[:-1], z[: len(z) // 2]):
                with pytest.raises(ValueError):
                    CI.decode_raw(cut)


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.binary(min_size=0, max_size=400),
    st.integers(min_value=1, max_value=20),
)
def test_float_extras_arbitrary_bytes_property(first, body, repeat):
    """Float extras whose doubles are arbitrary bit patterns (any first
    byte, incompressible or repetitive) round-trip bit-exactly."""
    from poc_parquet_aggregator_spark.encode.pipeline import _decode_extra, _encode_extra

    raw = bytes([first]) + body * repeat
    raw = raw[: len(raw) // 8 * 8] or bytes([first]) * 8
    v = np.frombuffer(raw, dtype=np.float64)
    payload, _ = _encode_extra(pa.array(v, type=pa.float64()), "double", 3)
    out = _decode_extra("double", payload).to_numpy(zero_copy_only=False)
    assert out.view(np.int64).tolist() == v.view(np.int64).tolist()


def test_selector_picks_the_right_regime():
    rng = np.random.default_rng(0)
    runs = np.repeat(rng.integers(0, 100, 500), 20).astype(np.int32)
    _, codec = encode_ints_auto(runs)
    assert CODEC_NAMES[codec] == "rle"
    small = rng.integers(1000, 1032, 50000).astype(np.int32)
    _, codec = encode_ints_auto(small)
    assert CODEC_NAMES[codec] in ("for", "bitpack")


def test_fsst_compresses_shared_prefixes():
    docs = [f"doc-{i:012d}" for i in range(4000)]
    blob = fsst_blob(pa.array(docs, type=pa.string()))
    raw = sum(len(s) for s in docs)
    assert len(blob) < raw
    assert decode_strings_arrow(blob).to_pylist() == docs


def test_str_dict_beats_plain_on_categoricals():
    src = ["srcA"] * 9000 + ["srcB"] * 1000
    blob, codec = encode_strings_arrow(pa.array(src, type=pa.string()))
    assert codec == CS.STR_DICT
    assert len(blob) < 0.05 * sum(len(s) for s in src)


def test_arrow_fsst_branch_from_buffers():
    """The fragment strings FSST won on when the encoder still tried it
    now encode as STR_PLAIN, and an FSST blob of them still decodes
    exactly. encode_strings_arrow works straight from the Arrow
    payload/offsets buffers (no to_pylist) and roundtrips bit-identically,
    including multi-chunk and offset-sliced inputs."""
    import random

    random.seed(7)
    frags = ["".join(random.choice("abcdefghijklmnop") for _ in range(8)) for _ in range(40)]
    vals = ["".join(random.choice(frags) for _ in range(6)) + str(i % 7) for i in range(8000)]
    random.shuffle(vals)
    arr = pa.array(vals, type=pa.string())
    assert CS.choose_string_codec(arr) == CS.STR_PLAIN
    assert decode_strings_arrow(fsst_blob(arr)).to_pylist() == vals
    blob, codec = CS.encode_strings_arrow(arr)
    assert codec == CS.STR_PLAIN
    assert decode_strings_arrow(blob).to_pylist() == vals
    # sliced array (nonzero offset into the buffers) must encode the slice only
    sl = arr.slice(100, 5000)
    blob2, _ = CS.encode_strings_arrow(sl)
    assert decode_strings_arrow(blob2).to_pylist() == vals[100:5100]
    # chunked input
    ch = pa.chunked_array([arr.slice(0, 3000), arr.slice(3000)])
    blob3, codec3 = CS.encode_strings_arrow(ch)
    assert decode_strings_arrow(blob3).to_pylist() == vals


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.text(max_size=30), min_size=1, max_size=64),
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=64),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=64),
    st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), min_size=1, max_size=64),
)
def test_extras_container_property(ss, i32s, i64s, f64s):
    """Extra-column container: every supported type round-trips exactly
    (including NaN/inf doubles and int64 extremes)."""
    from poc_parquet_aggregator_spark.encode.pipeline import _decode_extra, _encode_extra

    arrays = {
        "string": pa.array(ss, type=pa.string()),
        "integer": pa.array(np.array(i32s, dtype=np.int32), type=pa.int32()),
        "long": pa.array(np.array(i64s, dtype=np.int64), type=pa.int64()),
        "double": pa.array(np.array(f64s, dtype=np.float64), type=pa.float64()),
    }
    for kind, arr in arrays.items():
        payload, _codec = _encode_extra(arr, kind, 3)
        out = _decode_extra(kind, payload)
        a = arr.to_pandas().to_numpy()
        b = out.to_pandas().to_numpy()
        if arr.type == pa.float64():
            assert np.array_equal(a, b, equal_nan=True)
        else:
            assert list(out) == list(arr)


# ----------------------------------------------------------- ALP float codec


class TestAlpFloats:
    """codecs/floats.py: ALP-style lossless doubles (scaled-int planes +
    exception patching). Losslessness is bit-level by construction — the
    encoder verifies the literal decode expression — so every assertion
    here compares raw bit patterns, not values."""

    @staticmethod
    def _roundtrip(v):
        from poc_parquet_aggregator_spark.codecs.floats import (
            decode_floats_alp,
            encode_floats_alp,
        )

        enc = encode_floats_alp(v, 3)
        if enc is None:
            return None, None
        out = decode_floats_alp(enc[0])
        assert out.view(np.int64).tolist() == v.view(np.int64).tolist()
        return enc

    def test_decimal_column_wins_and_is_bit_exact(self):
        rng = np.random.default_rng(7)
        v = np.round(rng.uniform(0, 1, 4096), 3)  # quality-score shape
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alp(e3,f0")
        # 3-decimal values carry ~10 bits each; the bit-packed planes land
        # near that floor (~10.1 bits/val here) where zstd over the raw
        # bit patterns pays ~19.5 — ALP halves the compressed size
        assert len(blob) < len(CI.wrap_zstd(CI.raw_blob(v.tobytes()), 3)) * 0.6
        assert len(blob) < len(v) * 11 / 8 + 64  # near the 10-bit floor

    def test_round_multiples_pick_negative_scale(self):
        v = (np.arange(512, dtype=np.float64) * 100.0) + 1e6
        blob, name = self._roundtrip(v)
        assert "f0" not in name.split(",")[1]  # f > 0: scale DOWN by 10^f
        assert name.startswith("f64_alp(e0,f2")

    def test_specials_ride_the_exception_list(self):
        v = np.round(np.linspace(0, 10, 256), 2)
        v[3] = np.nan
        v[17] = np.inf
        v[21] = -np.inf
        v[40] = -0.0
        v[77] = np.pi  # full-precision double: never decimal-exact
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alp")
        from poc_parquet_aggregator_spark.codecs import floats as CF

        # -0.0 MUST be an exception (scaled int 0 decodes to +0.0)
        hit, _ = CF._roundtrip_mask(v, 2, 0)
        assert not hit[40] and not hit[3] and not hit[77]

    def test_noise_declines_or_loses(self):
        rng = np.random.default_rng(11)
        v = rng.uniform(0, 1, 2048)  # full 52-bit mantissas
        from poc_parquet_aggregator_spark.codecs.floats import encode_floats_alp

        enc = encode_floats_alp(v, 3)
        assert enc is None  # 0 sample hits -> fast-path skip

    def test_extra_container_selects_alp_only_when_smaller(self):
        from poc_parquet_aggregator_spark.encode.pipeline import _decode_extra, _encode_extra

        rng = np.random.default_rng(3)
        cases = {
            "decimal": np.round(rng.uniform(-5, 5, 2000), 4),
            "noise": rng.uniform(0, 1, 2000),
            "constant": np.full(2000, 2.5),
        }
        for label, v in cases.items():
            arr = pa.array(v, type=pa.float64())
            payload, codec = _encode_extra(arr, "double", 3)
            out = _decode_extra("double", payload).to_numpy(zero_copy_only=False)
            assert out.view(np.int64).tolist() == v.view(np.int64).tolist(), label
            if label == "noise":
                # decimal ALP declined (full mantissas) — the ALPrd
                # front-bit dictionary takes the column instead (~54
                # bits/val vs zstd's ~60 on uniform noise)
                assert codec.startswith("f64_alprd")
            elif label == "constant":
                # both collapse a constant to tens of bytes; zstd's frame
                # is leaner than ALP's four-child container here
                assert codec in ("f64_zstd",) or codec.startswith("f64_alp")
            else:
                assert codec.startswith("f64_alp"), label

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=80,
        )
    )
    def test_alp_property_bit_roundtrip(self, fs):
        v = np.array(fs, dtype=np.float64)
        self._roundtrip(v)  # asserts bit-identity whenever ALP engages


# ------------------------------------------------------ ALPrd (real doubles)


class TestAlprdFloats:
    """codecs/floats.py ALPrd mode: front-bit dictionary + bit-packed
    remainder.  Pure bit surgery — losslessness holds for every bit
    pattern (NaN payloads, ±inf, -0.0, subnormals) with no verify pass."""

    @staticmethod
    def _roundtrip(v):
        from poc_parquet_aggregator_spark.codecs.floats import (
            decode_floats_alprd,
            encode_floats_alprd,
        )

        enc = encode_floats_alprd(v, 3)
        assert enc is not None
        out = decode_floats_alprd(enc[0])
        assert out.view(np.int64).tolist() == v.view(np.int64).tolist()
        return enc

    def test_uniform_noise_beats_zstd(self):
        rng = np.random.default_rng(5)
        v = rng.uniform(0, 1, 8192)  # full mantissas: decimal ALP declines
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd")
        # ~(3 + 52) bits/val + tiny exceptions, vs zstd's ~60 on the raw
        # bit patterns — the dictionary removes the correlated front bits
        assert len(blob) < len(CI.wrap_zstd(CI.raw_blob(v.tobytes()), 3))
        assert len(blob) < len(v) * 56 / 8 + 128

    def test_concentrated_range_packs_harder(self):
        rng = np.random.default_rng(9)
        v = rng.normal(300.0, 2.0, 4096)  # one binade pair: near-constant left
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd(w16,x0")  # full 16-bit left, 0 misses
        assert len(blob) < len(v) * 50 / 8 + 128

    def test_specials_are_plain_bit_patterns(self):
        v = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, np.pi])
        self._roundtrip(v)  # bit-identity asserted inside

    def test_dictionary_misses_ride_exceptions(self):
        rng = np.random.default_rng(3)
        v = rng.uniform(0, 1, 2000)
        # 20 values in wildly different binades: cannot all share the
        # 8-entry dictionary with the main mass
        v[::100] = rng.uniform(1e-300, 1e-290, 20)
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd")
        # the miss count is encoded in the codec name (x<k>) — nonzero here
        xs = int(name.split(",x")[1].split(",")[0])
        assert xs > 0

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=80,
        )
    )
    def test_alprd_property_bit_roundtrip(self, fs):
        self._roundtrip(np.array(fs, dtype=np.float64))


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 31), st.integers(0, 20000), st.integers(0, 2**32 - 1))
def test_pack_bits_paths_write_the_same_bytes(width, n, seed):
    """``pack_bits`` packs inputs of at most ``_PACKBITS_MAX_BITS`` bits
    through ``np.packbits`` and larger ones word-parallel: forced either
    way, both write the same bytes, on either side of the threshold, and
    ``unpack_bits`` reads them back through either of its paths (at most
    ``_UNPACKBITS_MAX_BITS`` bits through ``np.unpackbits``), forced or
    not."""
    v = np.random.default_rng(seed).integers(0, 1 << width, n, dtype=np.int64)
    got = {}
    for limit in (-1, 1 << 40):
        CI._PACKBITS_MAX_BITS, saved = limit, CI._PACKBITS_MAX_BITS
        try:
            got[limit] = CI.pack_bits(v, width)
        finally:
            CI._PACKBITS_MAX_BITS = saved
    assert got[-1] == got[1 << 40] == CI.pack_bits(v, width)
    for limit in (-1, 1 << 40):
        CI._UNPACKBITS_MAX_BITS, saved = limit, CI._UNPACKBITS_MAX_BITS
        try:
            assert np.array_equal(CI.unpack_bits(got[-1], n, width), v)
        finally:
            CI._UNPACKBITS_MAX_BITS = saved
    assert np.array_equal(CI.unpack_bits(got[-1], n, width), v)


# written by the FSST encoder of earlier builds (zstd-wrapped, as stored):
# 512 strings "doc-00".."doc-39" train the symbols, and the four strings
# after the sample need escapes ("Zürich/ä", a tab) and an empty string
_GOLDEN_FSST = bytes.fromhex(
    "057903000028b52ffd607902250700040a1204020000281801000006646f632d"
    "3030313233343536373839313031323334353637383932303132333435363738"
    "3933303132333435363738393400000003120000000205000501d0a000150000"
    "00010a00061040000100000102030405060708090a0b0c0d0e0f101112131415"
    "161718191a1b1c1d1e1f2021222324252627ff5affc3ffbcff72ff69ff63ff68"
    "ff2fffc3ffa407ff74ff61ff62ff09ff782b20c083a43550bda40a7373445b93"
    "626b9cc1868c1bec9071834d7365dc60438c1b6cc838834dbb32ce6043c60d66"
    "c8b8c1a6b9326eb021c60d36641c1eac060206"
)


def test_fsst_golden_blob_decodes():
    """A stored FSST blob from an earlier build decodes to its strings:
    compatibility with stored data, independent of the test writer."""
    want = [f"doc-{i % 40:02d}" for i in range(512)] + ["", "Zürich/ä", "doc-07", "tab\tx"]
    assert unwrap_zstd(_GOLDEN_FSST)[0] == CS.FSST
    assert decode_strings_arrow(_GOLDEN_FSST).to_pylist() == want
