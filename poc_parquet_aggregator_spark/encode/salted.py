"""Source-partitioned encode with explicit salted repartitioning.

The token table's ``source`` key is heavily skewed (FIXTURES.md §0: one
value carries ~60% of rows). Organizing the encoded output by source (so a
reader can prune to one source) with a naive ``repartition("source")``
would put 60% of all data in ONE task — the straggler that caps scaling at
any cluster size. North rule: handle this with explicit salting, not hope.

Plan shape:
    n_salts_s = max(1, ceil(tokens_s / _BUCKET_TOKENS))   (per source)
    salt      = crc32(doc_id) % n_salts_s   (deterministic → stable resume)
    bucket    = source || "_s" || salt      (salt printed as %03d, never cut)
    df.repartition(cores, "bucket") → mapInArrow encode → per-bucket
    commit (the same manifest-record commit as the per-file job)

A job whose input is at most ``_LOCAL_ENCODE_BYTES`` skips the Spark job:
the driver computes the same buckets in Arrow, sorts the rows by (bucket,
doc_id) and encodes each bucket as one task of the in-process runner's
thread pool with the same kernel, which cuts a bucket's chunks from its
own rows alone, so both runners write the same bytes.

Each bucket record carries ``source``, ``salt``, its source's
``n_salts``, the input snapshot and ``n_buckets``, the size of the
bucket universe of its run: the records alone tell a resume whether
every bucket is committed.

A source's salt count follows its tokens, ``tokens_s``, its summed
``n_tok`` over the whole input: every bucket holds about
``_BUCKET_TOKENS`` tokens or fewer, whatever the skew, so the head
source is cut into many buckets and a small source stays one. AQE's
skew-join handling does not apply here (no join), so the salt IS the
mechanism. The count depends on the input alone, not on the host or the
runner, and salting is deterministic on doc_id, so a resumed run
reproduces identical buckets byte-for-byte.
"""

from __future__ import annotations

import os
import time
import zlib
from collections.abc import Iterable, Iterator
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
    _files_present,
    _input_files,
    _job_metrics,
    read_manifest,
)


# the token count a by-source bucket is sized to: a source of
# ``tokens_s`` tokens is cut into ceil(tokens_s / _BUCKET_TOKENS) salts.
# Each bucket is a commit unit with a fixed cost (a part file, its footer,
# a record), so buckets only need to be small enough to spread the head
# source over the cores. Set from an encode sweep of 2^18-2^21 on 4 cores
# (ARCHITECTURE §1, scripts/runner_sweep.py encode): times are flat from
# 2^19 up, and 2^19 is the largest target that keeps the 16k-doc ingest
# corpus's largest bucket at 1/8 of its tokens (24 buckets, not 160).
_BUCKET_TOKENS = 1 << 19


def _input_snapshot(files: list[str]) -> dict:
    def sig_of(f: str) -> str:
        st = os.stat(f)
        return f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}"

    sig = zlib.crc32("|".join(sig_of(f) for f in sorted(files)).encode())
    return {"n_files": len(files), "crc": sig}


def _salt_counts(tokens: dict[str, int], done: dict[str, dict]) -> dict[str, int]:
    """Each source's salt count from its summed ``n_tok`` over the whole
    input snapshot: ``k_s = max(1, ceil(tokens_s / _BUCKET_TOKENS))``.
    A committed record in ``done`` cut with another count raises: its
    salts would split the source's rows differently, and the resume
    would skip or repeat rows."""
    salts = {s: max(1, -(-int(t) // _BUCKET_TOKENS)) for s, t in tokens.items()}
    for stem, rec in done.items():
        if (committed := rec["n_salts"]) != (k := salts.get(rec["source"])):
            raise ValueError(
                f"bucket {stem!r} was committed with n_salts={committed}; this build "
                f"cuts source {rec['source']!r} into n_salts={k} (_BUCKET_TOKENS="
                f"{_BUCKET_TOKENS}), so a resume would lose rows — encode into a fresh out_dir"
            )
    return salts


def _bucket_batch_pieces(batches: Iterable[pa.RecordBatch]) -> Iterator[tuple[str, pa.RecordBatch]]:
    """(bucket, batch) pieces of batches whose rows come sorted by bucket:
    each batch sliced where its ``_bucket`` changes (zero-copy)."""
    for batch in batches:
        runs = pc.run_end_encode(batch.column(batch.schema.get_field_index("_bucket")))
        start = 0
        for bucket, end in zip(runs.values.to_pylist(), runs.run_ends.to_pylist()):
            yield bucket, batch.slice(start, end - start)
            start = end


def _bucket_df(
    spark: SparkSession, files: list[str], done: dict, salts: dict[str, int]
) -> DataFrame:
    """The Spark runner's input: the rows of ``files`` with their
    ``_bucket``, committed buckets dropped, through the explicit salted
    repartition into one partition per core (one shuffle, buckets ≈
    balanced; each task pays a fixed cost, so one partition per bucket
    measured slower, ARCHITECTURE §1). sortWithinPartitions puts each
    bucket's rows in a row, ordered by doc_id, so a bucket is one unit of
    the kernel. The salt counts come from one ``groupBy`` over the
    input, collected before the shuffle; they are put in ``salts``."""
    df = spark.read.parquet(*files)
    tokens = df.groupBy("source").agg(F.sum("n_tok")).collect()
    salts.update(_salt_counts(dict(map(tuple, tokens)), done))
    k = F.create_map(*[F.lit(x) for kv in salts.items() for x in kv])[F.col("source")]
    salt = F.crc32(F.col("doc_id").cast("binary")) % (k if salts else F.lit(1))
    df = df.withColumn("_bucket", F.concat(F.col("source"), F.lit("_s"),
                                           F.format_string("%03d", salt)))
    if done:
        df = df.filter(~F.col("_bucket").isin(list(done)))
    return df.repartition(spark.sparkContext.defaultParallelism, "_bucket") \
        .sortWithinPartitions("_bucket", "doc_id")


def _bucket_pieces(
    files: list[str], done: dict, salts: dict[str, int]
) -> list[list[tuple[str, pa.RecordBatch]]]:
    """The in-process runner's units: ``_bucket_df``'s rows computed in
    Arrow — the same salt counts (put in ``salts``) and bucket strings
    (``zlib.crc32`` over each doc_id's UTF-8 bytes), committed buckets
    dropped, sorted by (bucket, doc_id) in byte order — as one list of
    (bucket, batch) pieces per bucket, in bucket order."""
    names = pq.read_schema(files[0]).names
    tbl = pa.concat_tables(
        [pq.ParquetFile(f).read().select(names) for f in files], promote_options="default"
    )
    source = tbl.column("source").cast(pa.string())
    sums = pa.table({"source": source, "n_tok": tbl.column("n_tok")}).group_by("source") \
        .aggregate([("n_tok", "sum")])
    salts.update(_salt_counts(dict(zip(sums["source"].to_pylist(),
                                       sums["n_tok_sum"].to_pylist())), done))
    k = pc.take(pa.array(list(salts.values()), pa.int64()),
                pc.index_in(source, pa.array(list(salts), pa.string()))).to_numpy()
    payload, lens = utf8_buffers(tbl.column("doc_id").combine_chunks())
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    crc = np.fromiter(
        (zlib.crc32(payload[offs[i]:offs[i + 1]]) for i in range(len(lens))),
        dtype=np.int64, count=len(lens),
    )
    labels, inverse = np.unique(crc % k, return_inverse=True)
    # Spark's format_string("%03d", salt): three digits at least, never cut
    labels = pc.take(pa.array([f"{s:03d}" for s in labels], pa.string()), pa.array(inverse))
    tbl = tbl.append_column("_bucket", pc.binary_join_element_wise(source, labels, "_s"))
    if done:
        tbl = tbl.filter(pc.invert(pc.is_in(tbl.column("_bucket"), pa.array(list(done)))))
    tbl = tbl.sort_by([("_bucket", "ascending"), ("doc_id", "ascending")])
    pieces = _bucket_batch_pieces(tbl.to_batches())
    return [list(unit) for _, unit in groupby(pieces, key=itemgetter(0))]


def encode_dataset_by_source(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    zstd_level: int = 3,
) -> dict:
    """Encode the token table into source-partitioned, salt-balanced buckets.

    Resume unit = (source, salt) bucket; the input snapshot covers the whole
    input set. Every record in ``out_dir`` must come from this snapshot: a
    record committed from another input raises (its bucket would keep
    serving rows the input no longer has) — encode a changed input into a
    fresh out_dir. Bucket records carry their source's ``n_salts``
    (``_salt_counts``): a resume recomputes it from the same input, and
    a record cut with another count raises. They also carry
    ``n_buckets``: the scan and the count are skipped only when every
    record's count equals the number of records. A record that names a
    missing part or sidecar is not counted as done, so its bucket is
    redone.
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
    # a bucket whose record names a missing file is redone: the scan runs
    done = {stem: rec for stem, rec in done.items() if _files_present(out_dir, rec)}

    metrics = {"buckets_skipped": len(done)}

    if not done or any(r.get("n_buckets") != len(done) for r in done.values()):
        salts: dict[str, int] = {}
        by_bucket, extras = _encode_parts(
            files, out_dir, done, True, zstd_level, metrics,
            lambda: (_bucket_df(spark, files, done, salts), _bucket_batch_pieces),
            lambda: _bucket_pieces(files, done, salts),
        )
        n_buckets = len(set(done) | set(by_bucket))
        for stem, row in by_bucket.items():
            source, salt = stem.rsplit("_s", 1)
            _commit_parts(
                out_dir, stem, row, extras=extras, source=source, salt=int(salt),
                n_salts=salts[source], n_buckets=n_buckets, snapshot=snapshot,
            )

    manifest = _job_metrics(metrics, out_dir, files, t0)
    metrics["buckets_total"] = len(manifest)
    # skew evidence: the largest bucket's share of tokens (unsalted, the
    # head source alone would be ~0.6)
    if manifest:
        big = max(r["n_tokens"] for r in manifest.values())
        metrics["max_bucket_token_share"] = big / max(metrics["n_tokens"], 1)
    return metrics
