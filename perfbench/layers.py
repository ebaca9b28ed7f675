"""Per-layer numbers for the traced run.

``probe()`` calls into every layer once, with spans, after the traced loop:
the chunk kernels and codecs on single 2048-row chunks (the pipeline's
Arrow batch size) on one core, one fresh and one resumed pipeline encode,
a ``mapInArrow`` identity pass over the same input, one read of each kind,
a by-source encode, one streaming append and one pass over the headline
queries. Steps whose spans the loop already recorded are skipped.
``per_layer()`` turns spans and probe counts into the named metrics; it
emits every name in ``NAMES`` on every workload.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import querydata
import workloads
from harness import Tracer, cores, identity_batches, median
from workloads import record

CHUNK_ROWS = 2048
INT_STREAMS = ("lengths", "groups", "refs", "values_g0", "values_g1", "values_g2")
INT_CODECS = ("plain", "bitpack", "for", "rle", "dict", "delta")
STR_STREAMS = ("doc_id", "source")
STR_CODECS = ("str_plain", "str_dict", "fsst")
READ_KINDS = ("point", "range", "ntok", "rare", "absent", "banned", "agg", "scan")
LAYERS = (
    "harness", "sources", "plans", "encode.pipeline", "encode.salted",
    "encode.chunk", "encode.tokfilter", "codecs", "streaming", "operators",
)

# every per-layer metric with its unit, in BENCHMARK.json order
NAMES: dict[str, str] = {
    "sources.gen_s": "s",
    "plans.session_start_s": "s",
    "plans.warmup_s": "s",
    "chunk.encode_s_per_mtok": "s/Mtok",
    "chunk.cascade_s_per_mtok": "s/Mtok",
    "codecs.zstd_s_per_mtok": "s/Mtok",
    "codecs.strings_s_per_mrow": "s/Mrow",
    "chunk.decode_s_per_mtok": "s/Mtok",
    "chunk.bytes_per_token": "B/token",
    "tokfilter.build_s_per_mtok": "s/Mtok",
    "tokfilter.bytes_share": "ratio",
    "tokfilter.files_kept_ratio": "ratio",
    **{f"codecs.chosen.{s}.{c}": "count" for s in INT_STREAMS for c in INT_CODECS},
    **{f"codecs.chosen.{s}.{c}": "count" for s in STR_STREAMS for c in STR_CODECS},
    "pipeline.encode_call_s": "s",
    "pipeline.arrow_scan_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.files_encoded": "count",
    "pipeline.files_skipped": "count",
    "pipeline.n_chunks": "count",
    "pipeline.read_manifest_s": "s",
    **{
        f"read.{m}.{k}": u
        for k in READ_KINDS
        for m, u in (("plan_s", "s"), ("exec_s", "s"), ("rows", "count"))
    },
    "salted.encode_call_s": "s",
    "salted.max_bucket_token_share": "ratio",
    "salted.buckets": "count",
    "streaming.encode_stream_s": "s",
    "streaming.files": "count",
    **{f"query.{q}_s": "s" for q in workloads.HEADLINE},
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.spans": "count",
    "trace.overhead_op_p50_s": "s",
    "trace.overhead_ops_per_s": "1/s",
}


def _chunks(corpus, limit: int = 8):
    """The first ``limit`` 2048-row chunks of the corpus' input files."""
    out = []
    for path in sorted(glob.glob(os.path.join(corpus.in_dir, "*.parquet"))):
        for batch in pq.ParquetFile(path).iter_batches(batch_size=CHUNK_ROWS):
            out.append(batch)
            if len(out) == limit:
                return out
    return out


def _kernels(tr: Tracer, counts: dict, corpus) -> None:
    """Chunk kernels, codecs and token filters on single chunks, one core."""
    from poc_parquet_aggregator_spark.codecs import wrap_zstd
    from poc_parquet_aggregator_spark.codecs.strings import encode_strings_arrow
    from poc_parquet_aggregator_spark.encode import (
        build_token_filter,
        decode_token_chunk,
        encode_token_chunk,
    )

    tok = rows = enc_bytes = filt_bytes = 0
    ok = True
    for batch in _chunks(corpus):
        col = batch.column(batch.schema.get_field_index("tokens"))
        flat = col.flatten().to_numpy().astype(np.int32)
        lengths = col.value_lengths().to_numpy().astype(np.int32)
        with tr.span("chunk.encode", "encode.chunk"):
            blob, _ = encode_token_chunk(flat, lengths, zstd=True, zstd_level=3)
        with tr.span("chunk.cascade", "encode.chunk"):
            raw, _ = encode_token_chunk(flat, lengths, zstd=False)
        with tr.span("codecs.zstd", "codecs"):
            wrap_zstd(raw, 3)
        with tr.span("codecs.strings", "codecs"):
            for name in ("doc_id", "source"):
                encode_strings_arrow(batch.column(batch.schema.get_field_index(name)))
        with tr.span("chunk.decode", "encode.chunk"):
            got_flat, got_len = decode_token_chunk(blob)
        with tr.span("tokfilter.build", "encode.tokfilter"):
            filt = build_token_filter(flat)
        ok &= np.array_equal(got_flat, flat) and np.array_equal(got_len, lengths)
        tok += len(flat)
        rows += batch.num_rows
        enc_bytes += len(blob)
        filt_bytes += len(filt)
    counts.update(
        kernel_tokens=tok, kernel_rows=rows, kernel_ok=ok,
        **{"chunk.bytes_per_token": enc_bytes / max(tok, 1),
           "tokfilter.bytes_share": filt_bytes / max(enc_bytes + filt_bytes, 1)},
    )


def _pipeline(tr: Tracer, counts: dict, spark, corpus, out: str) -> None:
    """A fresh encode, a resumed one (every file skipped), a manifest read
    and an identity ``mapInArrow`` pass over the same input."""
    from poc_parquet_aggregator_spark.encode import encode_dataset, read_manifest

    shutil.rmtree(out, ignore_errors=True)
    for _ in range(2):
        with tr.span("pipeline.encode_call", "encode.pipeline") as sp:
            m = encode_dataset(spark, corpus.in_dir, out)
        record(sp, m, "files_encoded", "files_skipped")
    with tr.span("pipeline.read_manifest", "encode.pipeline"):
        manifest = read_manifest(out)
    src = spark.read.parquet(corpus.in_dir)
    with tr.span("pipeline.arrow_scan", "encode.pipeline"):
        src.mapInArrow(identity_batches, src.schema).write.format("noop").mode("overwrite").save()
    for rec in manifest.values():
        for key, n in rec.get("codecs", {}).items():
            name = "codecs.chosen." + key.replace(":", ".", 1)
            counts[name] = counts.get(name, 0) + n
    counts["pipeline.n_chunks"] = sum(r.get("n_chunks", 0) for r in manifest.values())
    counts["pipeline_tokens"] = m["n_tokens"]
    counts["pipeline_docs"] = m["n_docs"]


def _reads(tr: Tracer, counts: dict, spark, out: str, corpus, seed: int) -> None:
    """One read of each kind against ``out``, then the pruning ratio of
    its ``contains_token`` reads: files holding a match out of the files
    ``token_read_stats`` keeps."""
    from poc_parquet_aggregator_spark.encode import read_manifest, token_read_stats

    reader = workloads.Reader(spark, tr, out, corpus, np.random.default_rng([seed, 13]))
    manifest = list(read_manifest(out).values())
    kept = useful = 0
    for kind in READ_KINDS:
        args = reader.args(kind)
        res = reader.read(kind, args)
        if kind in workloads.AUDITS:
            kept += token_read_stats(out, args)["files_kept"]
            ids = res.column("doc_id").to_pylist()
            useful += sum(any(r["doc_id_min"] <= d <= r["doc_id_max"] for d in ids) for r in manifest)
    counts["tokfilter.files_kept_ratio"] = useful / kept if kept else 1.0


def _stream(tr: Tracer, spark, work: str, seed: int) -> None:
    from poc_parquet_aggregator_spark.sources import write_token_table
    from poc_parquet_aggregator_spark.streaming import encode_stream

    root = os.path.join(work, "probe_stream")
    shutil.rmtree(root, ignore_errors=True)
    write_token_table(os.path.join(root, "in"), 500, seed=seed, docs_per_file=500)
    with tr.span("streaming.encode_stream", "streaming") as sp:
        stats = encode_stream(spark, os.path.join(root, "in"), os.path.join(root, "out"))
    record(sp, stats, "files")


def _salted(tr: Tracer, spark, work: str, corpus) -> None:
    from poc_parquet_aggregator_spark.encode import encode_dataset_by_source

    out = os.path.join(work, "probe_src")
    shutil.rmtree(out, ignore_errors=True)
    with tr.span("salted.encode_call", "encode.salted") as sp:
        m = encode_dataset_by_source(spark, corpus.in_dir, out)
    record(sp, m, "max_bucket_token_share", "buckets_total")


def _queries(tr: Tracer, spark, work: str, seed: int, scale: float) -> None:
    from poc_parquet_aggregator_spark.operators import QUERIES
    from poc_parquet_aggregator_spark.operators.cache import purge_frame_memo

    data = os.path.join(work, "probe_tables")
    querydata.write_tables(querydata.make_tables(scale, seed), data)
    for name in workloads.HEADLINE:
        purge_frame_memo()
        with tr.span(f"query.{name}", "operators"):
            QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()


def probe(tr: Tracer, spark, work: str, seed: int, corpus, served: str | None,
          sizes: workloads.Sizes) -> dict:
    """Call into every layer; steps the traced loop already covered
    (by-source encode, streaming append, queries) are skipped. Returns the
    counts that are not span durations."""
    counts: dict = {}
    seen = {s["name"] for s in tr.spans}
    if corpus is None:  # query_mix has no token corpus: make one like serve's
        corpus = workloads.TokenCorpus(
            os.path.join(work, "probe_in"), seed, sizes.served_docs, sizes.docs_per_file // 2
        )
        corpus.write()
    tr.new_op()
    _kernels(tr, counts, corpus)
    tr.new_op()
    _pipeline(tr, counts, spark, corpus, os.path.join(work, "probe_enc"))
    tr.new_op()
    _reads(tr, counts, spark, served or os.path.join(work, "probe_enc"), corpus, seed)
    if "salted.encode_call" not in seen:
        tr.new_op()
        _salted(tr, spark, work, corpus)
    if "streaming.encode_stream" not in seen:
        tr.new_op()
        _stream(tr, spark, work, seed)
    if not any(n.startswith("query.") for n in seen):
        tr.new_op()
        _queries(tr, spark, work, seed, sizes.query_scale / 10)
    return counts


def per_layer(tr: Tracer, counts: dict, setup: dict, overhead: tuple[float, float]) -> dict[str, float]:
    """Every metric in ``NAMES``: span medians, per-token kernel costs,
    counts recorded on spans and the probe's counts."""

    def med(name: str) -> float:
        return median(tr.durations(name))

    def per(name: str, n: float) -> float:
        return sum(tr.durations(name)) / max(n, 1) * 1e6

    def last(name: str, key: str) -> float:
        vals = tr.values(name, key)
        return float(vals[-1]) if vals else 0.0

    tok, rows = counts["kernel_tokens"], counts["kernel_rows"]
    m: dict[str, float] = {
        "sources.gen_s": setup["gen_s"],
        "plans.session_start_s": setup["session_start_s"],
        "plans.warmup_s": setup["warmup_s"],
        "chunk.encode_s_per_mtok": per("chunk.encode", tok),
        "chunk.cascade_s_per_mtok": per("chunk.cascade", tok),
        "codecs.zstd_s_per_mtok": per("codecs.zstd", tok),
        "codecs.strings_s_per_mrow": per("codecs.strings", rows),
        "chunk.decode_s_per_mtok": per("chunk.decode", tok),
        "chunk.bytes_per_token": counts["chunk.bytes_per_token"],
        "tokfilter.build_s_per_mtok": per("tokfilter.build", tok),
        "tokfilter.bytes_share": counts["tokfilter.bytes_share"],
        "tokfilter.files_kept_ratio": counts["tokfilter.files_kept_ratio"],
    }
    for name in NAMES:
        if name.startswith("codecs.chosen."):
            m[name] = float(counts.get(name, 0))
    # the encode call's wall time minus its kernel time spread over the
    # cores (kernel time from the single-core chunk costs above)
    call_s = med("pipeline.encode_call")
    kernel_s = (
        (m["chunk.encode_s_per_mtok"] + m["tokfilter.build_s_per_mtok"]) * counts["pipeline_tokens"]
        + m["codecs.strings_s_per_mrow"] * counts["pipeline_docs"]
    ) / 1e6
    m.update(
        {
            "pipeline.encode_call_s": call_s,
            "pipeline.arrow_scan_s": med("pipeline.arrow_scan"),
            "pipeline.overhead_s": call_s - kernel_s / cores(),
            "pipeline.files_encoded": max(tr.values("pipeline.encode_call", "files_encoded")),
            "pipeline.files_skipped": max(tr.values("pipeline.encode_call", "files_skipped")),
            "pipeline.n_chunks": float(counts["pipeline.n_chunks"]),
            "pipeline.read_manifest_s": med("pipeline.read_manifest"),
        }
    )
    for k in READ_KINDS:
        m[f"read.plan_s.{k}"] = med(f"read.plan.{k}")
        m[f"read.exec_s.{k}"] = med(f"read.exec.{k}")
        m[f"read.rows.{k}"] = median(tr.values(f"read.exec.{k}", "rows"))
    m.update(
        {
            "salted.encode_call_s": med("salted.encode_call"),
            "salted.max_bucket_token_share": last("salted.encode_call", "max_bucket_token_share"),
            "salted.buckets": last("salted.encode_call", "buckets_total"),
            "streaming.encode_stream_s": med("streaming.encode_stream"),
            "streaming.files": median(tr.values("streaming.encode_stream", "files")),
        }
    )
    for name in NAMES:
        if name.startswith("query."):
            m[name] = med(name[: -len("_s")])
    self_s = tr.self_time_by_layer()
    for layer in LAYERS:
        m[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    m["trace.spans"] = float(len(tr.spans))
    m["trace.overhead_op_p50_s"], m["trace.overhead_ops_per_s"] = overhead
    bad = [n for n in NAMES if not np.isfinite(m.get(n, float("nan")))]
    if bad:
        raise RuntimeError(f"per-layer metrics missing or not finite: {bad}")
    return {n: float(m[n]) for n in NAMES}
