"""Source-partitioned encode with explicit salted repartitioning.

The token table's ``source`` key is heavily skewed (FIXTURES.md §0: one
value carries ~60% of rows). Organizing the encoded output by source (so a
reader can prune to one source) with a naive ``repartition("source")``
would put 60% of all data in ONE task — the straggler that caps scaling at
any cluster size. North rule: handle this with explicit salting, not hope.

Plan shape:
    salt   = crc32(doc_id) % n_salts          (deterministic → stable resume)
    bucket = source || "_s" || salt
    df.repartition(n_buckets, "bucket") → mapInArrow encode → per-bucket
    commit (the same manifest-record commit as the per-file job)

A job whose input is at most ``_LOCAL_ENCODE_BYTES`` skips the Spark job:
the driver computes the same buckets in Arrow, sorts the rows by (bucket,
doc_id) and encodes each bucket as one task of the in-process runner's
thread pool with the same kernel, which cuts a bucket's chunks from its
own rows alone, so both runners write the same bytes.

Each bucket record carries ``source``, ``salt``, ``n_salts``, the input
snapshot and ``n_buckets``, the size of the bucket universe of its run:
the records alone tell a resume whether every bucket is committed.

n_salts bounds the largest bucket at ~60%/n_salts of the data; AQE's
skew-join handling does not apply here (no join), so the salt IS the
mechanism. Salting is deterministic on doc_id, so a resumed run reproduces
identical buckets byte-for-byte.
"""

from __future__ import annotations

import os
import time
import zlib
from itertools import groupby
from operator import itemgetter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs.strings import utf8_buffers
from .pipeline import (
    _commit_parts,
    _encode_parts,
    _input_files,
    _job_metrics,
    _split_by_file,
    read_manifest,
)


def _input_snapshot(files: list[str]) -> dict:
    def sig_of(f: str) -> str:
        st = os.stat(f)
        return f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}"

    sig = zlib.crc32("|".join(sig_of(f) for f in sorted(files)).encode())
    return {"n_files": len(files), "crc": sig}


def _bucket_df(spark: SparkSession, files: list[str], n_salts: int, done: dict) -> DataFrame:
    """The Spark runner's input: the rows of ``files`` with their
    ``_bucket``, committed buckets dropped, through the explicit salted
    repartition (one shuffle, buckets ≈ balanced). sortWithinPartitions
    puts each bucket's rows in a row, ordered by doc_id, so a bucket is
    one unit of the kernel."""
    bucket = F.concat(
        F.col("source"),
        F.lit("_s"),
        F.lpad((F.crc32(F.col("doc_id").cast("binary")) % n_salts).cast("string"), 3, "0"),
    )
    df = spark.read.parquet(*files).withColumn("_bucket", bucket)
    if done:
        df = df.filter(~F.col("_bucket").isin(list(done)))
    n_buckets_hint = max(spark.sparkContext.defaultParallelism, n_salts)
    return df.repartition(n_buckets_hint, "_bucket").sortWithinPartitions("_bucket", "doc_id")


def _bucket_pieces(
    files: list[str], n_salts: int, done: dict
) -> list[list[tuple[str, pa.RecordBatch]]]:
    """The in-process runner's units: ``_bucket_df``'s rows computed in
    Arrow — the same bucket strings (``zlib.crc32`` over each doc_id's
    UTF-8 bytes), committed buckets dropped, sorted by (bucket, doc_id)
    in byte order — as one list of (bucket, batch) pieces per bucket, in
    bucket order."""
    names = pq.read_schema(files[0]).names
    tbl = pa.concat_tables(
        [pq.ParquetFile(f).read().select(names) for f in files], promote_options="default"
    )
    payload, lens = utf8_buffers(tbl.column("doc_id").combine_chunks())
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    crc = np.fromiter(
        (zlib.crc32(payload[offs[i]:offs[i + 1]]) for i in range(len(lens))),
        dtype=np.int64, count=len(lens),
    )
    salts, inverse = np.unique(crc % n_salts, return_inverse=True)
    # Spark's lpad(salt, 3, "0") pads to three characters and cuts above
    labels = pc.take(pa.array([str(s).rjust(3, "0")[:3] for s in salts], pa.string()),
                     pa.array(inverse))
    source = tbl.column("source").cast(pa.string())
    tbl = tbl.append_column("_bucket", pc.binary_join_element_wise(source, labels, "_s"))
    if done:
        tbl = tbl.filter(pc.invert(pc.is_in(tbl.column("_bucket"), pa.array(list(done)))))
    tbl = tbl.sort_by([("_bucket", "ascending"), ("doc_id", "ascending")])
    pieces = (piece for batch in tbl.to_batches() for piece in _split_by_file(batch, "_bucket"))
    return [list(unit) for _, unit in groupby(pieces, key=itemgetter(0))]


def encode_dataset_by_source(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    n_salts: int = 8,
    zstd_level: int = 3,
) -> dict:
    """Encode the token table into source-partitioned, salt-balanced buckets.

    Resume unit = (source, salt) bucket; the input snapshot covers the whole
    input set. Every record in ``out_dir`` must come from this snapshot: a
    record committed from another input raises (its bucket would keep
    serving rows the input no longer has) — encode a changed input into a
    fresh out_dir. Bucket records carry ``n_salts``: resuming them with
    another value raises, since its buckets would split the rows
    differently. They also carry ``n_buckets``: the scan is skipped only
    when every record's count equals the number of records.
    """
    t0 = time.time()
    files = _input_files(input_path)
    snapshot = _input_snapshot(files)
    done = read_manifest(out_dir)
    for stem, rec in done.items():
        if rec.get("snapshot") != snapshot:
            raise ValueError(
                f"bucket {stem!r} was committed from another input snapshot; "
                "the input changed since — encode into a fresh out_dir"
            )
        if (committed := rec.get("n_salts")) != n_salts:
            raise ValueError(
                f"bucket {stem!r} was committed with n_salts={committed}; resuming "
                f"it with n_salts={n_salts} would lose rows — pass "
                f"n_salts={committed} or encode into a fresh out_dir"
            )

    metrics = {"buckets_skipped": len(done)}

    if not done or any(r.get("n_buckets") != len(done) for r in done.values()):
        by_bucket, extras = _encode_parts(
            spark, files, out_dir, done, "_bucket", zstd_level, metrics,
            lambda: _bucket_df(spark, files, n_salts, done),
            lambda: _bucket_pieces(files, n_salts, done),
        )
        n_buckets = len(set(done) | set(by_bucket))
        for stem, rows in by_bucket.items():
            source, salt = stem.rsplit("_s", 1)
            _commit_parts(
                out_dir, stem, rows, extras=extras, source=source, salt=int(salt),
                n_salts=n_salts, n_buckets=n_buckets, snapshot=snapshot,
            )

    manifest = _job_metrics(metrics, out_dir, files, t0)
    metrics["buckets_total"] = len(manifest)
    # skew evidence: the largest bucket's share of tokens (unsalted, the
    # head source alone would be ~0.6)
    if manifest:
        big = max(r["n_tokens"] for r in manifest.values())
        metrics["max_bucket_token_share"] = big / max(metrics["n_tokens"], 1)
    return metrics
