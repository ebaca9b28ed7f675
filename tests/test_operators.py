"""The driver's correctness gate as a test: every queries() entry vs its
DuckDB oracle at sf0.001 — row count, column names, order-insensitive
value multiset with strict (17-digit) float normalization."""

import math

import duckdb
import pytest

import __spark_entry__ as entry
from poc_parquet_aggregator_spark.plans import get_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        "operator_tests", cores=4, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{v:.17g}"
    return str(v)


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check (non-SQL-expressible op)
        return
    res = duck.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _rowset(srows, scols) == _rowset(orows, ocols)


def test_dedup_skew_guards_bound_candidates(spark, tmp_path):
    """Skewed-corpus guard: 1000 byte-identical docs would emit ~500k
    candidate pairs through any shingle/LSH self-join without the
    document-frequency cap. With the cap their shingles are dropped, so the
    near-dup operators emit ZERO pairs for that block (exact dedup still
    catches it — that is the division of labor), while genuinely near-dup
    docs with low-df shingles are still found."""
    from pyspark.sql import types as T

    from poc_parquet_aggregator_spark.operators.dedup import (
        q_dedup_exact,
        q_dedup_minhash_lsh,
        q_dedup_ngram_jaccard,
    )

    hot = "the quick brown fox jumps over the lazy dog again and again"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, hot, "en", "s", len(hot)) for i in range(1000)]
    rows += [(2001, near_a, "en", "s", len(near_a)), (2002, near_b, "en", "s", len(near_b))]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )

    jac = q_dedup_ngram_jaccard(spark, sf).collect()
    mh = q_dedup_minhash_lsh(spark, sf).collect()
    # linear, not quadratic: only the near-dup pair, never the 499500 hot pairs
    assert {(r["doc_a"], r["doc_b"]) for r in jac} == {(2001, 2002)}
    assert {(r["doc_a"], r["doc_b"]) for r in mh} == {(2001, 2002)}
    # the identical block is exact-dedup's job
    ex = {r["content_hash"]: r["n_copies"] for r in q_dedup_exact(spark, sf).collect()}
    assert 1000 in ex.values()


def test_simhash_cascade_schedule_invariants():
    """Structural soundness of the cascade schedule (no Spark): at every
    level the 4 spans are pairwise disjoint (the pigeonhole argument needs
    a diff to break at most one group key) and read only bits that exist
    on the narrowest remainder path; the schedule and the per-level column
    names stay in lockstep."""
    from poc_parquet_aggregator_spark.operators.dedup import (
        _CASCADE_SPANS,
        _LEVEL_COLS,
        _SIM_SLOTS,
        _SIMHASH_BITS,
        _SLOT_BITS,
    )

    assert len(_CASCADE_SPANS) == len(_LEVEL_COLS)
    assert _SIM_SLOTS * _SLOT_BITS == _SIMHASH_BITS
    widths = {_SIMHASH_BITS - _SLOT_BITS}  # rest width after the slot key
    for spans in _CASCADE_SPANS:
        assert len(spans) == 4  # 4 groups pigeonhole ≤3 diffs
        ss = sorted(spans)
        for (o1, w1), (o2, w2) in zip(ss, ss[1:]):
            assert o1 + w1 <= o2  # disjoint
        # spans may leave high remainder bits uncovered (sound: keys read
        # only covered bits) but must never be entirely out of range on
        # the narrowest path
        assert min(o for o, _ in spans) == 0
        assert all(w >= 1 for _, w in spans)
        widths = {wd - w for wd in widths for _, w in spans}
        assert min(widths) >= 0


def _make_bmp(w: int, h: int, px: bytes) -> bytes:
    """Independent struct-based 24bpp BMP builder (test-side reference
    implementation — not the engine's SQL builder)."""
    import struct

    assert len(px) == w * h * 3 and (w * 3) % 4 == 0
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
        + px
    )


def _make_wav(channels: int, data: bytes) -> bytes:
    """Independent struct-based 8-bit PCM WAV builder."""
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, 8000, 8000 * channels, channels, 8)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _make_png(w, h, ch, pixels, filters, split_idat=False):
    """Independent pure-Python PNG builder (test-side reference — struct +
    REAL zlib deflate, not the engine's stored-block SQL): applies the
    requested per-scanline filter types FORWARD so the engine decoder must
    reverse them to recover ``pixels``."""
    import struct
    import zlib

    assert len(pixels) == h * w * ch
    bpp, raw, prev = ch, bytearray(), bytes(w * ch)
    for y in range(h):
        line = pixels[y * w * ch : (y + 1) * w * ch]
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(w * ch):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = (line[x] - a) % 256
            elif f == 2:
                v = (line[x] - b) % 256
            elif f == 3:
                v = (line[x] - (a + b) // 2) % 256
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (line[x] - pred) % 256
            raw.append(v)
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if ch == 1 else 2, 0, 0, 0)
    idat = zlib.compress(bytes(raw), 6)
    cut = len(idat) // 2 if split_idat else len(idat)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat[:cut])
    if split_idat:
        out += chunk(b"IDAT", idat[cut:])
    return out + chunk(b"IEND", b"")


def test_png_decoder_all_filters_real_deflate(spark, tmp_path):
    """The PNG path must decode REAL deflate streams (the engine builder
    only emits stored blocks) with every filter type, grayscale and RGB,
    and multi-fragment IDAT — built by the independent reference builder
    above; body_sum must equal the reconstructed pixel sum exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.operators.multimodal import (
        DECODED_META,
        _decode_batches,
    )

    cases = [
        # (w, h, ch, filters) — each filter list cycles over scanlines
        (16, 6, 1, [0]),
        (16, 6, 1, [1]),
        (16, 6, 1, [2]),
        (16, 6, 1, [3]),
        (16, 6, 1, [4]),
        (13, 7, 3, [0, 1, 2, 3, 4]),  # RGB, odd width, mixed filters
        (5, 4, 3, [4, 3]),
    ]
    media, expect = [], []
    for i, (w, h, ch, filters) in enumerate(cases):
        pixels = bytes((i * 37 + j * 11) % 256 for j in range(h * w * ch))
        media.append(_make_png(w, h, ch, pixels, filters, split_idat=(i % 2 == 0)))
        expect.append((w, h, ch, sum(pixels)))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(media)), type=pa.int64()),
            "payload": pa.array(media, type=pa.binary()),
        }
    )
    path = str(tmp_path / "pngs.parquet")
    pq.write_table(tbl, path)
    df = spark.read.parquet(path)
    meta = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_batches, schema=DECODED_META).collect()
    }
    for i, (w, h, ch, psum) in enumerate(expect):
        assert meta[i]["format"] == "png8"
        assert meta[i]["n_bytes"] == len(media[i])
        assert (meta[i]["width"], meta[i]["height"]) == (w, h)
        assert meta[i]["n_channels"] == ch
        assert meta[i]["body_sum"] == psum

    # malformed PNGs must raise, never mis-parse
    import pytest as _pytest

    good = _make_png(16, 2, 1, bytes(range(32)), [0])
    bad_crc = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]  # flip a CRC-protected chunk byte
    bad_filter = _make_png(16, 2, 1, bytes(range(32)), [0])
    # rebuild with an invalid filter byte 9 via the reference builder's
    # internals: patch the raw stream inside a fresh zlib wrap
    import struct
    import zlib as _z

    raw = bytearray(b"\x09" + bytes(16) + b"\x00" + bytes(16))
    idat = _z.compress(bytes(raw))
    def _chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(
            ">I", _z.crc32(typ + data)
        )
    bad_filter = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 2, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )
    depth16 = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 2, 16, 0, 0, 0, 0))
        + _chunk(b"IDAT", _z.compress(bytes(2 * (1 + 32))))
        + _chunk(b"IEND", b"")
    )
    short_raw = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 2, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", _z.compress(bytes(5)))  # raw != h*(1+w)
        + _chunk(b"IEND", b"")
    )
    for bad in (good[:-12], bad_crc, bad_filter, depth16, short_raw):
        tbl_bad = pa.table(
            {
                "doc_id": pa.array([0], type=pa.int64()),
                "payload": pa.array([bad], type=pa.binary()),
            }
        )
        pbad = str(tmp_path / "badpng.parquet")
        pq.write_table(tbl_bad, pbad)
        with _pytest.raises(
            Exception, match="PNG|payload|magic|truncated|implausible|filter"
        ):
            spark.read.parquet(pbad).mapInPandas(
                _decode_batches, schema=DECODED_META
            ).collect()


def test_multimodal_kernels_on_real_binary_parquet_column(spark, tmp_path):
    """The multimodal kernels must work over a REAL parquet binary column
    (not just in-query synthesized bytes): write (doc_id, payload: binary)
    holding genuinely format-valid BMP/WAV files built by an INDEPENDENT
    struct-based builder, scan them back, and check the decoder parses the
    actual header fields + body sums; the transform kernel keeps its
    arbitrary-bytes contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.operators.multimodal import (
        DECODED_META,
        TRANSFORM_META,
        _decode_batches,
        _transform_batches,
    )

    media = [
        _make_bmp(16, 2, bytes(range(96))),
        _make_wav(2, bytes(range(64))),
        _make_bmp(32, 5, bytes([7]) * 480),
        _make_wav(1, bytes([200]) * 160),
    ]
    expect = [
        ("bmp24", 16, 2, 3, sum(range(96))),
        ("wav8", 32, 1, 2, sum(range(64))),
        ("bmp24", 32, 5, 3, 7 * 480),
        ("wav8", 160, 1, 1, 200 * 160),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(media)), type=pa.int64()),
            "payload": pa.array(media, type=pa.binary()),
        }
    )
    path = str(tmp_path / "blobs.parquet")
    pq.write_table(tbl, path)

    df = spark.read.parquet(path)
    assert dict(df.dtypes)["payload"] == "binary"

    meta = {r["doc_id"]: r for r in df.mapInPandas(_decode_batches, schema=DECODED_META).collect()}
    for i, (fmt, w, h, ch, bsum) in enumerate(expect):
        assert meta[i]["format"] == fmt
        assert meta[i]["n_bytes"] == len(media[i])
        assert meta[i]["width"] == w
        assert meta[i]["height"] == h
        assert meta[i]["n_channels"] == ch
        assert meta[i]["body_sum"] == bsum

    # malformed payloads must raise the kernel's ValueError (wrapped in a
    # Spark task failure), never silently mis-parse neighbor bytes
    import struct

    huge_bmp = (  # width*height*3 wraps int64 without the dims guard
        b"BM"
        + struct.pack("<IHHI", 0, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, 1 << 30, 1 << 30, 1, 24, 0, 0, 2835, 2835, 0, 0
        )
        + bytes(16)
    )
    for bad in (
        b"",  # shorter than any header
        b"XX" + bytes(60),  # unknown magic
        _make_bmp(16, 2, bytes(96))[:-10],  # header claims more body bytes
        huge_bmp,  # implausible dims (int64-wrap attempt)
        _make_wav(0, bytes(16)),  # zero channels (division-by-zero attempt)
    ):
        tbl_bad = pa.table(
            {
                "doc_id": pa.array([0], type=pa.int64()),
                "payload": pa.array([bad], type=pa.binary()),
            }
        )
        pbad = str(tmp_path / "bad.parquet")
        pq.write_table(tbl_bad, pbad)
        with pytest.raises(Exception, match="payload|magic|truncated|implausible"):
            spark.read.parquet(pbad).mapInPandas(
                _decode_batches, schema=DECODED_META
            ).collect()

    payloads = [bytes([i % 256 for i in range(n)]) for n in (0, 1, 17, 300, 4096)]
    tbl2 = pa.table(
        {
            "doc_id": pa.array(range(len(payloads)), type=pa.int64()),
            "payload": pa.array(payloads, type=pa.binary()),
        }
    )
    path2 = str(tmp_path / "blobs2.parquet")
    pq.write_table(tbl2, path2)
    df2 = spark.read.parquet(path2)
    feats = {r["doc_id"]: r for r in df2.mapInPandas(_transform_batches, schema=TRANSFORM_META).collect()}
    for i, p in enumerate(payloads):
        assert feats[i]["byte_sum"] == sum(p)
        assert feats[i]["first_b"] == (p[0] if p else 0)
        assert feats[i]["last_b"] == (p[-1] if p else 0)
        assert feats[i]["out_bytes"] == 224 * 224 * 3


def test_deterministic_split_and_stratified_sample(spark):
    """Threshold-hash split/sample: stable across runs, proportions close,
    and MONOTONE (raising a fraction only adds rows) — the property RNG
    sampling lacks under repartitioning."""
    from pyspark.sql import functions as F

    from poc_parquet_aggregator_spark.operators.splits import (
        deterministic_split,
        stratified_sample,
    )

    df = spark.range(20000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "crawl").otherwise("curated").alias("source"),
    )
    s1 = deterministic_split(df, val_frac=0.05, test_frac=0.02)
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.02) < 0.01
    # stability: identical assignment on a re-run AND after repartition
    s2 = deterministic_split(df.repartition(17), val_frac=0.05, test_frac=0.02)
    a = {(r["doc_id"], r["split"]) for r in s1.collect()}
    b = {(r["doc_id"], r["split"]) for r in s2.collect()}
    assert a == b

    small = stratified_sample(df, {"crawl": 0.1, "curated": 0.5})
    big = stratified_sample(df, {"crawl": 0.3, "curated": 0.5})
    small_ids = {r["doc_id"] for r in small.collect()}
    big_ids = {r["doc_id"] for r in big.collect()}
    assert small_ids <= big_ids  # monotone: raising a fraction only ADDS
    by_src = {r["source"]: r["n"] for r in small.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert abs(by_src["crawl"] / (20000 / 3) - 0.1) < 0.03
    assert abs(by_src["curated"] / (20000 * 2 / 3) - 0.5) < 0.03
    # unknown keys fall back to default_fraction=0 → dropped
    assert stratified_sample(df, {"nope": 1.0}).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        deterministic_split(df, val_frac=0.9, test_frac=0.2)
    with _pytest.raises(ValueError):
        stratified_sample(df, {"crawl": 1.5})


_VOCAB_WORDS = 20_000
_DOC_WORDS_MEAN = 120


def write_doc_corpus(out_dir: str, n_docs: int, dim: int = 64, seed: int = 7) -> None:
    """Write a seed-deterministic documents.parquet + embeddings.parquet
    pair under ``out_dir``, shaped like the driver's tables, with planted
    near-duplicates: ~10% of docs are mutated copies of an earlier doc (a
    few word substitutions), ~5% exact copies, ~10% of embeddings a prior
    vector plus small noise; the rest Zipfian word soup / unit Gaussians."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_docs])
    # w<index> words keep generation cheap and the word-level operators
    # (shingles, simhash tokens) meaningful
    words = np.asarray([f"w{i:05d}" for i in range(_VOCAB_WORDS)], dtype=object)
    lengths = np.clip(
        rng.normal(_DOC_WORDS_MEAN, 30, size=n_docs).astype(np.int64), 20, 300
    )
    # Zipfian word ids per doc (flat pool, sliced by offsets)
    total = int(lengths.sum())
    flat = (rng.zipf(1.3, size=total) % _VOCAB_WORDS).astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])

    kind = rng.choice(3, size=n_docs, p=[0.85, 0.10, 0.05])  # fresh/mutated/exact
    kind[0] = 0
    id_arrays: list[np.ndarray] = []
    for i in range(n_docs):
        base = flat[offsets[i] : offsets[i + 1]]
        if kind[i] == 0 or i == 0:
            id_arrays.append(base)
        else:
            src = int(rng.integers(0, i))
            src_ids = id_arrays[src]
            if kind[i] == 2:  # exact copy
                id_arrays.append(src_ids)
            else:  # mutated copy: substitute ~3% of words
                ids = src_ids.copy()
                n_mut = max(1, len(ids) * 3 // 100)
                pos = rng.integers(0, len(ids), n_mut)
                ids[pos] = rng.integers(0, _VOCAB_WORDS, n_mut)
                id_arrays.append(ids)
    texts = [" ".join(words[ids]) for ids in id_arrays]
    n_chars = np.asarray([len(t) for t in texts], dtype=np.int64)
    srcs = rng.choice(
        np.asarray([f"src{i}" for i in range(20)], dtype=object), size=n_docs
    )
    langs = rng.choice(np.asarray(["en", "es", "fr", "de"], dtype=object), size=n_docs)
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(srcs, type=pa.string()),
            "n_chars": pa.array(n_chars),
        }
    )
    pq.write_table(doc_tbl, os.path.join(out_dir, "documents.parquet"), compression="zstd")

    vecs = rng.normal(0, 1, size=(n_docs, dim)).astype(np.float32)
    dup = rng.random(n_docs) < 0.10
    dup[0] = False
    for i in np.flatnonzero(dup):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0, 0.05, dim).astype(np.float32)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), type=pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(emb_tbl, os.path.join(out_dir, "embeddings.parquet"), compression="zstd")


def test_doc_corpus_deterministic(tmp_path):
    """write_doc_corpus is seed-deterministic (byte-identical re-generation)
    and plants the advertised near-dup structure."""
    import pyarrow.parquet as pq

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_doc_corpus(a, 500)
    write_doc_corpus(b, 500)
    ta, tb = pq.read_table(f"{a}/documents.parquet"), pq.read_table(f"{b}/documents.parquet")
    assert ta.equals(tb)
    ea, eb = pq.read_table(f"{a}/embeddings.parquet"), pq.read_table(f"{b}/embeddings.parquet")
    assert ea.equals(eb)
    texts = ta.column("text").to_pylist()
    assert len(texts) == 500 and len(set(texts)) < 500  # exact copies planted


def _simhash_scheme_pairs(ids, sigs, spans, deeper_spans, slot_bits, cap):
    """Independent Python replication of the cascaded pigeonhole (depth =
    2 + len(deeper_spans) levels): pairs the blocking scheme emits at
    bucket cap ``cap`` (pre-Hamming filter)."""
    from collections import defaultdict

    n_slots = 60 // slot_bits
    found = set()

    def add_all(idxs):
        for x in range(len(idxs)):
            for y in range(x + 1, len(idxs)):
                i, j = idxs[x], idxs[y]
                found.add((min(ids[i], ids[j]), max(ids[i], ids[j])))

    def remove_span(vals, off, width):
        return {
            i: ((v >> (off + width)) << off) | (v & ((1 << off) - 1))
            for i, v in vals.items()
        }

    def block(vals, idxs, lvl_spans, deeper):
        for off, width in lvl_spans:
            sub = defaultdict(list)
            for i in idxs:
                sub[(vals[i] >> off) & ((1 << width) - 1)].append(i)
            for s_idxs in sub.values():
                if len(s_idxs) <= cap:
                    add_all(s_idxs)
                elif deeper:
                    block(
                        remove_span(vals, off, width), s_idxs, deeper[0], deeper[1:]
                    )

    for slot in range(n_slots):
        buckets = defaultdict(list)
        for i, s in enumerate(sigs):
            buckets[(s >> (slot * slot_bits)) & ((1 << slot_bits) - 1)].append(i)
        rests = {
            i: ((sigs[i] >> ((slot + 1) * slot_bits)) << (slot * slot_bits))
            | (sigs[i] & ((1 << (slot * slot_bits)) - 1))
            for i in range(len(sigs))
        }
        for idxs in buckets.values():
            if len(idxs) <= cap:
                add_all(idxs)
            else:
                block(rests, idxs, spans, deeper_spans)
    return found


def expand_simhash_pairs(pairs):
    """Expand q_dedup_simhash's collapsed output into the complete
    Hamming ≤ 3 pair enumeration (the contract the simhash test checks).

    Input rows: Hamming-0 star edges (clique rep → member) plus Hamming
    1-3 pairs between clique representatives. Output: every (doc_a,
    doc_b, hamming) with doc_a < doc_b — intra-clique pairs at Hamming 0
    and all cross-clique member pairs at their reps' Hamming (exact:
    members share their rep's signature bit-for-bit, so the rep-level
    distance IS the member-level distance).

    This reintroduces the Θ(k²) the collapse exists to avoid (one
    7,357-doc clique expands to 27M rows)."""
    from pyspark.sql import functions as F

    star = pairs.filter(F.col("hamming") == 0)
    rep_pairs = pairs.filter(F.col("hamming") > 0)
    reps = (
        star.select(F.col("doc_a").alias("rep"))
        .unionByName(rep_pairs.select(F.col("doc_a").alias("rep")))
        .unionByName(rep_pairs.select(F.col("doc_b").alias("rep")))
        .distinct()
    )
    members = reps.select("rep", F.col("rep").alias("member")).unionByName(
        star.select(F.col("doc_a").alias("rep"), F.col("doc_b").alias("member"))
    )
    ma, mb = members.alias("ma"), members.alias("mb")
    intra = ma.join(
        mb,
        (F.col("ma.rep") == F.col("mb.rep"))
        & (F.col("ma.member") < F.col("mb.member")),
    ).select(
        F.col("ma.member").alias("doc_a"),
        F.col("mb.member").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # cliques are disjoint, so intra (same clique) and cross (two cliques)
    # can never emit the same pair, and no cross pair repeats — a plain
    # unionByName needs no distinct
    cross = (
        rep_pairs.join(ma, F.col("doc_a") == F.col("ma.rep"))
        .join(mb, F.col("doc_b") == F.col("mb.rep"))
        .select(
            F.least("ma.member", "mb.member").alias("doc_a"),
            F.greatest("ma.member", "mb.member").alias("doc_b"),
            "hamming",
        )
    )
    return intra.unionByName(cross)


def test_simhash_cascaded_blocking(spark, tmp_path, monkeypatch):
    """Exact-recall contract of the collapsed cascaded pigeonhole (4
    levels since round 6): identical-signature cliques come back as
    Hamming-0 star edges (rep → member); with an unbounded cap the
    rep-level scheme finds EVERY Hamming≤3 representative pair (pigeonhole
    completeness vs brute force); with a tiny cap that forces multi-level
    overflow, the Spark result still equals the scheme's contract exactly
    (replicated independently in Python) — over-cap buckets re-block on
    out-of-slot sub-keys down to the deepest schedule level instead of dropping
    their pairs wholesale."""
    from collections import defaultdict

    from poc_parquet_aggregator_spark.operators import dedup as D

    corpus = str(tmp_path / "sim2l")
    write_doc_corpus(corpus, 400)  # plants exact + mutated near-dup cliques
    rows = D._simhash_signatures(D._docs(spark, corpus)).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r["simhash"]].append(r["doc_id"])
    stars = {
        (min(ds), d) for ds in groups.values() for d in ds if d != min(ds)
    }
    assert stars  # the planted exact copies guarantee cliques exist
    rep_ids = [min(ds) for ds in groups.values()]
    rep_sigs = list(groups.keys())
    ground_rep = {
        (min(rep_ids[i], rep_ids[j]), max(rep_ids[i], rep_ids[j]))
        for i in range(len(rep_sigs))
        for j in range(i + 1, len(rep_sigs))
        if bin(rep_sigs[i] ^ rep_sigs[j]).count("1") <= 3
    }

    for cap in (1 << 30, 3):
        expected = stars | {
            p
            for p in _simhash_scheme_pairs(
                rep_ids,
                rep_sigs,
                D._CASCADE_SPANS[0],
                tuple(D._CASCADE_SPANS[1:]),
                D._SLOT_BITS,
                cap,
            )
            if p in ground_rep
        }
        monkeypatch.setattr(D, "_MAX_BUCKET", cap)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in D.q_dedup_simhash(spark, corpus).collect()
        }
        assert got == expected
        if cap == 1 << 30:
            # no bucket overflows ⇒ pigeonhole completeness: every
            # Hamming≤3 representative pair + every star edge is found
            assert got == stars | ground_rep
            # expand_simhash_pairs: the collapsed frame expands to the
            # FULL Hamming≤3 enumeration over ALL docs — intra-clique
            # pairs at 0, cross-clique member pairs at their reps' distance
            sig_of = {d: s for s, ds in groups.items() for d in ds}
            all_ids = sorted(sig_of)
            full = {
                (a, b, bin(sig_of[a] ^ sig_of[b]).count("1"))
                for i, a in enumerate(all_ids)
                for b in all_ids[i + 1 :]
                if bin(sig_of[a] ^ sig_of[b]).count("1") <= 3
            }
            expanded = {
                (r["doc_a"], r["doc_b"], r["hamming"])
                for r in expand_simhash_pairs(
                    D.q_dedup_simhash(spark, corpus)
                ).collect()
            }
            assert expanded == full


def test_operator_modules_import_without_session():
    """Classic-mode Column construction with literal args needs an active
    SparkContext, so a module-level expression crashes any import that
    precedes session creation. Import every module under operators/,
    found with pkgutil, in a bare subprocess."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import importlib, pkgutil\n"
            "import poc_parquet_aggregator_spark.operators as O\n"
            "for m in pkgutil.iter_modules(O.__path__):\n"
            "    importlib.import_module(f'{O.__name__}.{m.name}')\n"
            "    print(m.name)\n",
        ],
        capture_output=True,
        cwd=str(root),
    )
    assert r.returncode == 0, r.stderr.decode()
    on_disk = {p.stem for p in (root / "poc_parquet_aggregator_spark/operators").glob("*.py")}
    assert set(r.stdout.decode().split()) == on_disk - {"__init__"}


def _make_wav_chunked(data: bytes, channels: int = 1, pre_chunks=(), post_fmt_chunks=()):
    """Independent WAV builder: RIFF container with arbitrary metadata
    chunks before fmt (pre_chunks) and between fmt and data
    (post_fmt_chunks) — the real-world layouts (LIST/fact/cue) the
    engine's SQL builder never emits."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""  # RIFF word alignment
        return cid + struct.pack("<I", len(body)) + body + pad

    fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000 * channels, channels, 8)
    inner = (
        b"".join(chunk(cid, b) for cid, b in pre_chunks)
        + chunk(b"fmt ", fmt)
        + b"".join(chunk(cid, b) for cid, b in post_fmt_chunks)
        + chunk(b"data", data)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"WAVE" + inner


def _make_bmp_signed(w: int, h: int, pixels: bytes, top_down: bool = False) -> bytes:
    import struct

    assert len(pixels) == w * abs(h) * 3 and (w * 3) % 4 == 0
    h_field = -abs(h) if top_down else abs(h)
    info = struct.pack("<IiiHHIIiiII", 40, w, h_field, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    return hdr + info + pixels


def test_wav_riff_walk_and_topdown_bmp(spark, tmp_path):
    """Non-canonical container layouts must parse, not be rejected:
    WAVs with LIST/fact/cue chunks around fmt/data (including odd-sized
    chunks exercising the RIFF pad byte), and top-down BMPs (negative
    height) — same |height| and body sum as their bottom-up twin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.operators.multimodal import (
        DECODED_META,
        _decode_batches,
    )

    data = bytes((7 * i) % 256 for i in range(160))
    px = bytes((11 * i) % 256 for i in range(16 * 5 * 3))
    media = [
        _make_wav_chunked(data),  # canonical
        _make_wav_chunked(data, channels=2, pre_chunks=[(b"LIST", b"INFOisft-test")]),  # odd-size → pad
        _make_wav_chunked(
            data,
            pre_chunks=[(b"JUNK", bytes(12))],
            post_fmt_chunks=[(b"fact", bytes(4)), (b"cue ", bytes(24))],
        ),
        _make_bmp_signed(16, 5, px),
        _make_bmp_signed(16, 5, px, top_down=True),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(media)), type=pa.int64()),
            "payload": pa.array(media, type=pa.binary()),
        }
    )
    path = str(tmp_path / "riff.parquet")
    pq.write_table(tbl, path)
    meta = {
        r["doc_id"]: r
        for r in spark.read.parquet(path)
        .mapInPandas(_decode_batches, schema=DECODED_META)
        .collect()
    }
    for i, ch in [(0, 1), (1, 2), (2, 1)]:
        assert meta[i]["format"] == "wav8"
        assert meta[i]["n_channels"] == ch
        assert meta[i]["width"] == len(data) // ch
        assert meta[i]["body_sum"] == sum(data), i
    for i in (3, 4):
        assert meta[i]["format"] == "bmp24"
        assert (meta[i]["width"], meta[i]["height"]) == (16, 5)
        assert meta[i]["body_sum"] == sum(px)

    # still rejected, never mis-parsed: missing data chunk; non-PCM bits;
    # non-PCM format tag; 14-byte WAVEFORMAT fmt (no bitsPerSample — the
    # walk must NOT read neighbor-chunk bytes); RIFF without WAVE; BMP
    # with zero height
    import struct

    def _riff(inner: bytes) -> bytes:
        return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"WAVE" + inner

    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    no_data = _riff(  # ≥44 bytes so the RIFF walk itself must reject it
        b"JUNK" + struct.pack("<I", 16) + bytes(16)
        + b"fmt " + struct.pack("<I", 16) + fmt16
    )
    bits16 = _make_wav_chunked(data).replace(
        struct.pack("<HH", 1, 8)[2:], struct.pack("<H", 16), 1
    )
    adpcm = bytearray(_make_wav_chunked(data))
    adpcm[20:22] = struct.pack("<H", 2)  # audioFormat = ADPCM
    short_fmt = _riff(
        b"fmt " + struct.pack("<I", 14) + fmt16[:14]
        + b"data" + struct.pack("<I", len(data)) + data
    )
    not_wave = b"RIFF" + struct.pack("<I", 4) + b"AVI " + bytes(32)
    zero_h = bytearray(_make_bmp_signed(16, 5, px))
    zero_h[22:26] = struct.pack("<i", 0)
    for bad in (no_data, bits16, bytes(adpcm), short_fmt, not_wave, bytes(zero_h)):
        tbl_bad = pa.table(
            {
                "doc_id": pa.array([0], type=pa.int64()),
                "payload": pa.array([bad], type=pa.binary()),
            }
        )
        pbad = str(tmp_path / "badriff.parquet")
        pq.write_table(tbl_bad, pbad)
        with pytest.raises(
            Exception,
            match="WAV|WAVE|payload|magic|truncated|implausible|bit depth|audio format|fmt chunk",
        ):
            spark.read.parquet(pbad).mapInPandas(
                _decode_batches, schema=DECODED_META
            ).collect()
