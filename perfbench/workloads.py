"""The three workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned.

A workload has four phases, driven by ``run.py``:

* ``generate()`` — seeded inputs, timed as ``sources.gen_s`` (run several
  times, median reported);
* ``warm()`` — the cold first jobs and one operation of each kind,
  timed as ``plans.warmup_s``; both are part of ``setup_s``;
* ``step()`` — one timed operation of the loop, returning its latency;
* ``verify()`` — correctness checks on what the loop produced, untimed.

The engine sees only the generated inputs and is driven only through its
public functions.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ops, Tracer, median, quantile, timed

VOCAB = 50_257  # token ids of the generated corpus lie in [0, VOCAB)

# the headline operator queries, in the order a pass runs them
HEADLINE = (
    "a1_daily_rollup", "star_join_revenue", "j1_label_join_dedup",
    "a3_two_level_capacity", "w1_ratio_normalize", "j11_suffix_theta_join",
    "dedup_minhash_lsh", "ann_topk_bruteforce", "text_langid_quality",
    "multimodal_decode_meta",
)


class Sizes:
    """Input sizes. The full size is what the benchmark measures; the
    smoke size only proves every path runs and every metric prints."""

    def __init__(self, smoke: bool):
        self.docs = 1_600 if smoke else 16_000
        self.docs_per_file = 400 if smoke else 2_000
        self.served_docs = 1_600 if smoke else 8_000
        self.append_docs = 100 if smoke else 500
        self.query_scale = 0.05 if smoke else 1.0
        self.gen_reps = 3


def _doc_num(doc_ids) -> np.ndarray:
    return np.array([int(s[4:]) for s in doc_ids], dtype=np.int64)


def _doc_id(i: int) -> str:
    return f"doc-{int(i):012d}"


def record(span: dict | None, metrics: dict, *keys: str) -> None:
    """Copy counts from an engine call's result onto its span."""
    if span is not None:
        span.update({k: metrics[k] for k in keys})


def _parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


class Workload:
    name = ""
    cycle = 1  # operations in one round of the workload's mix

    def __init__(self, spark, work: str, seed: int, sizes: Sizes, ops: Ops, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.ops = ops
        self.tracer = tracer
        self.ratio: float | None = None  # encoded bytes / input Parquet(zstd) bytes

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def guarded(self, what: str, fn, *args, **kwargs):
        """Run one operation; a raised error counts as a failed op."""
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the loop must survive one bad operation
            self.ops.error(what, exc)
            return None


class TokenCorpus:
    """Seeded token table on disk plus the same rows in memory, as the
    reference every read is checked against."""

    def __init__(self, in_dir: str, seed: int, docs: int, docs_per_file: int):
        self.in_dir = in_dir
        self.seed = seed
        self.docs = docs
        self.docs_per_file = docs_per_file
        self.parts: list[pa.Table] = []

    def write(self) -> None:
        from poc_parquet_aggregator_spark.sources import write_token_table

        shutil.rmtree(self.in_dir, ignore_errors=True)
        paths = write_token_table(
            self.in_dir, self.docs, seed=self.seed, docs_per_file=self.docs_per_file
        )
        self.parts = [pq.read_table(p) for p in paths]
        self._index()

    def append_file(self, n: int) -> str:
        """Land one new input file whose doc ids follow the current ones."""
        from poc_parquet_aggregator_spark.sources import generate_token_table

        start = self.n_docs
        tbl = generate_token_table(n, seed=self.seed, start_id=start)
        path = os.path.join(self.in_dir, f"tokens-{start:012d}.parquet")
        tmp = os.path.join(os.path.dirname(self.in_dir), f".landing-{start}.parquet")
        pq.write_table(tbl, tmp, compression="zstd")
        os.replace(tmp, path)
        self.parts.append(tbl)
        self._index()
        return path

    def _index(self) -> None:
        tbl = pa.concat_tables(self.parts)
        tok = tbl.column("tokens").combine_chunks()
        self.flat = tok.flatten().to_numpy().astype(np.int32)
        self.lengths = tbl.column("n_tok").to_numpy().astype(np.int64)
        self.offsets = np.zeros(len(self.lengths) + 1, dtype=np.int64)
        np.cumsum(self.lengths, out=self.offsets[1:])
        self.source = np.asarray(tbl.column("source").to_pylist(), dtype=object)
        self.n_docs = len(self.lengths)

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1])

    def docs_with(self, tokens, n: int) -> np.ndarray:
        """Doc numbers (< n) whose tokens contain any of ``tokens``."""
        hit = np.isin(self.flat[: self.offsets[n]], np.atleast_1d(tokens))
        doc_of = np.repeat(np.arange(n), self.lengths[:n])
        return np.unique(doc_of[hit])

    def token_rows(self, docs: np.ndarray) -> np.ndarray:
        if len(docs) == 0:
            return np.zeros(0, np.int32)
        return np.concatenate([self.flat[self.offsets[d] : self.offsets[d + 1]] for d in docs])

    def doc_freq(self) -> np.ndarray:
        """Number of docs each token id occurs in (ids < vocab)."""
        doc_of = np.repeat(np.arange(self.n_docs), self.lengths)
        pairs = np.unique(doc_of.astype(np.int64) * 65_536 + self.flat)
        return np.bincount((pairs % 65_536).astype(np.int64), minlength=VOCAB)

    def mismatch(self, tbl: pa.Table, want: np.ndarray) -> str | None:
        """None when the decoded rows are exactly docs ``want``."""
        got = _doc_num(tbl.column("doc_id").to_pylist())
        order = np.argsort(got, kind="stable")
        got = got[order]
        if not np.array_equal(got, np.sort(want)):
            return f"doc set: {len(got)} rows, expected {len(want)}"
        if "n_tok" in tbl.column_names:
            if not np.array_equal(tbl.column("n_tok").to_numpy()[order], self.lengths[got]):
                return "n_tok differs"
        if "source" in tbl.column_names:
            src = np.asarray(tbl.column("source").to_pylist(), dtype=object)[order]
            if not np.array_equal(src, self.source[got]):
                return "source differs"
        if "tokens" in tbl.column_names:
            tok = tbl.column("tokens").combine_chunks().take(pa.array(order))
            if not np.array_equal(tok.flatten().to_numpy(), self.token_rows(got)):
                return "tokens differ"
        return None


# ───────────────────────────────── ingest ─────────────────────────────────


class Ingest(Workload):
    """Repeated fresh encodes of one seeded corpus: ``encode_dataset`` at
    its default zstd level, then ``encode_dataset_by_source``. Nothing is
    read back inside the loop."""

    name = "ingest"

    def generate(self) -> None:
        self.corpus = TokenCorpus(
            os.path.join(self.work, "in"), self.seed, self.sizes.docs, self.sizes.docs_per_file
        )
        self.corpus.write()
        self.out = os.path.join(self.work, "enc")
        self.out_src = os.path.join(self.work, "enc_src")
        self.n_files = len(glob.glob(os.path.join(self.corpus.in_dir, "*.parquet")))
        self.file_tps: list[float] = []
        self.salted_tps: list[float] = []

    def _encode_pair(self) -> float:
        from poc_parquet_aggregator_spark.encode import encode_dataset, encode_dataset_by_source

        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.out_src, ignore_errors=True)
        with self.span("pipeline.encode_call", "encode.pipeline") as sp:
            m, t1 = timed(encode_dataset, self.spark, self.corpus.in_dir, self.out)
        record(sp, m, "files_encoded", "files_skipped")
        with self.span("salted.encode_call", "encode.salted") as sp:
            ms, t2 = timed(encode_dataset_by_source, self.spark, self.corpus.in_dir, self.out_src)
        record(sp, ms, "max_bucket_token_share", "buckets_total")
        n, tok = self.corpus.n_docs, self.corpus.n_tokens
        self.ops.check(
            m["files_encoded"] == self.n_files and m["n_docs"] == n and m["n_tokens"] == tok,
            f"ingest: per-file encode covered {m['files_encoded']} files / {m['n_docs']} docs",
        )
        self.ops.check(
            ms["n_docs"] == n and ms["n_tokens"] == tok,
            f"ingest: by-source encode covered {ms['n_docs']} docs",
        )
        self.ratio = m["ratio_vs_parquet_zstd"]
        self.file_tps.append(tok / t1)
        self.salted_tps.append(tok / t2)
        return t1 + t2

    def warm(self) -> None:
        self._encode_pair()
        self.file_tps.clear()
        self.salted_tps.clear()

    def step(self) -> float | None:
        self.tracer.new_op()
        with self.span("ingest.op", "harness"):
            return self.guarded("ingest encode", self._encode_pair)

    def verify(self) -> None:
        from poc_parquet_aggregator_spark.encode import decode_verify

        for out in (self.out, self.out_src):
            with self.span("pipeline.decode_verify", "encode.pipeline"):
                r = self.guarded("decode_verify", decode_verify, self.spark, self.corpus.in_dir, out)
            if r is not None:
                self.ops.check(r["bit_identical"] and r["ok"] == self.corpus.n_docs, f"decode_verify {out}: {r}")

    def report(self) -> dict[str, tuple[float, str]]:
        return {
            "encode_tokens_per_s": (median(self.file_tps), "tokens/s"),
            "salted_tokens_per_s": (median(self.salted_tps), "tokens/s"),
            "bytes_ratio": (self.ratio, "ratio"),
        }

    def probe_tables(self) -> tuple[TokenCorpus, str | None]:
        return self.corpus, None


# ───────────────────────────────── serve ──────────────────────────────────

# one cycle of the operation mix; the seed draws each operation's arguments
SERVE_CYCLE = (
    "point", "rare", "range", "absent", "ntok", "banned", "agg", "append",
    "point", "rare", "range", "banned", "ntok", "scan",
)
LOOKUPS = ("point", "range", "ntok")
AUDITS = ("rare", "absent", "banned")
SELECTIVE = LOOKUPS + AUDITS + ("agg",)


class Reader:
    """The read operations of ``serve`` against one encoded table: the
    seeded arguments of each kind and the timed read itself."""

    def __init__(self, spark, tracer: Tracer, out: str, corpus: TokenCorpus, rng):
        self.spark, self.tracer, self.out, self.corpus, self.rng = spark, tracer, out, corpus, rng
        # arguments are drawn from narrow bands so that seeds differ in
        # values, not in how much work a read of each kind does
        df = corpus.doc_freq()
        rare = np.flatnonzero((df >= 3) & (df <= 6))
        self.rare_ids = rare if len(rare) else np.flatnonzero(df > 0)

    def args(self, kind: str):
        n, rng = self.corpus.n_docs, self.rng
        if kind == "point":
            return sorted(int(x) for x in rng.choice(n, 4, replace=False))
        if kind == "range":
            lo = int(rng.integers(0, n - 200))
            return (lo, lo + 199)
        if kind == "ntok":
            lo = int(rng.integers(100, 200))
            return (lo, lo + 5)
        if kind == "rare":
            return int(rng.choice(self.rare_ids))
        if kind == "absent":  # outside the vocabulary: zone maps prune every file
            return VOCAB + int(rng.integers(0, 10_000))
        if kind == "banned":
            return [int(x) for x in rng.choice(self.rare_ids, 3, replace=False)] + [
                VOCAB + int(rng.integers(0, 10_000))
            ]
        return None

    def read(self, kind: str, args):
        """Plan with ``read_decoded``, then run the action a user of that
        read would run; returns what the action returned."""
        from pyspark.sql import functions as F

        from poc_parquet_aggregator_spark.encode import read_decoded

        kw: dict = {
            "point": lambda: {"doc_ids": [_doc_id(d) for d in args]},
            "range": lambda: {"doc_id_range": (_doc_id(args[0]), _doc_id(args[1]))},
            "ntok": lambda: {"n_tok_range": args},
            "rare": lambda: {"contains_token": args},
            "absent": lambda: {"contains_token": args},
            "banned": lambda: {"contains_token": args},
            "agg": lambda: {"columns": ["source", "n_tok"]},
            "scan": dict,
        }[kind]()
        with self.tracer.span(f"read.plan.{kind}", "encode.pipeline"):
            df = read_decoded(self.spark, self.out, **kw)
        with self.tracer.span(f"read.exec.{kind}", "encode.pipeline") as sp:
            if kind == "agg":
                res = df.groupBy("source").agg(F.count("*").alias("n"), F.sum("n_tok").alias("t")).toArrow()
                rows = res.num_rows
            elif kind == "scan":
                tok_sum = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x)
                res = df.agg(
                    F.count("*"), F.sum("n_tok"), F.sum(tok_sum),
                    F.sum(F.length("doc_id")), F.sum(F.length("source")),
                ).collect()[0]
                res = tuple(int(v or 0) for v in res)
                rows = res[0]
            else:
                res = df.toArrow()
                rows = res.num_rows
        if sp is not None:
            sp["rows"] = rows
        return res


class Serve(Workload):
    """Reads against a table encoded during set-up, with periodic full
    scans and periodic appends committed by ``streaming.encode_stream``."""

    name = "serve"
    cycle = len(SERVE_CYCLE)

    def generate(self) -> None:
        self.corpus = TokenCorpus(
            os.path.join(self.work, "in"), self.seed, self.sizes.served_docs, self.sizes.docs_per_file // 2
        )
        self.corpus.write()
        self.out = os.path.join(self.work, "enc")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.reader = Reader(
            self.spark, self.tracer, self.out, self.corpus, np.random.default_rng([self.seed, 11])
        )
        self.i = 0
        self.log: list[dict] = []  # per operation: kind, args, docs then, result, latency
        self.appends: list[tuple[int, int]] = []

    def _commit(self) -> int:
        """Commit the file that just landed; its docs are readable after."""
        from poc_parquet_aggregator_spark.streaming import encode_stream

        with self.span("streaming.encode_stream", "streaming") as sp:
            stats = encode_stream(self.spark, self.corpus.in_dir, self.out, checkpoint_dir=self.ckpt)
        record(sp, stats, "files")
        self.ops.check(stats["files"] == 1, f"append committed {stats['files']} files, expected 1")
        return stats["files"]

    def _op(self, kind: str) -> float:
        args = self.reader.args(kind)
        n_then = self.corpus.n_docs
        if kind == "append":
            self.corpus.append_file(self.sizes.append_docs)  # the file lands
            t0 = time.perf_counter()
            res = self._commit()
            self.appends.append((n_then, self.corpus.n_docs - 1))
        else:
            t0 = time.perf_counter()
            res = self.reader.read(kind, args)
        dt = time.perf_counter() - t0
        self.log.append({"kind": kind, "args": args, "n": n_then, "res": res, "s": dt})
        return dt

    def warm(self) -> None:
        from poc_parquet_aggregator_spark.streaming import encode_stream

        # the served table is committed by the same streaming path the
        # appends use, so the stream checkpoint starts out current
        stats = encode_stream(self.spark, self.corpus.in_dir, self.out, checkpoint_dir=self.ckpt)
        self.ops.check(stats["files"] > 0, "initial encode_stream committed no files")
        # one operation of each kind: reads speed up over their first
        # rounds while the JVM compiles their code paths
        for kind in dict.fromkeys(SERVE_CYCLE):
            self.guarded(f"warm {kind}", self._op, kind)
        self.ratio = _parquet_bytes(os.path.join(self.out, "data")) / _parquet_bytes(self.corpus.in_dir)

    def step(self) -> float | None:
        kind = SERVE_CYCLE[self.i % len(SERVE_CYCLE)]
        self.i += 1
        self.tracer.new_op()
        with self.span("serve.op", "harness"):
            dt = self.guarded(f"serve {kind}", self._op, kind)
        if dt is not None:
            self.log[-1]["timed"] = True
        return dt

    def _expected(self, kind: str, args, n: int) -> np.ndarray:
        c = self.corpus
        if kind == "point":
            return np.array(args, dtype=np.int64)
        if kind == "range":
            return np.arange(args[0], min(args[1], n - 1) + 1)
        if kind == "ntok":
            ln = c.lengths[:n]
            return np.flatnonzero((ln >= args[0]) & (ln <= args[1]))
        return c.docs_with(args, n)

    def _check(self, rec: dict) -> None:
        kind, args, n, res = rec["kind"], rec["args"], rec["n"], rec["res"]
        c = self.corpus
        if kind == "append":
            return
        if kind == "agg":
            got = {r["source"]: (r["n"], r["t"]) for r in res.to_pylist()}
            want = {}
            for s in np.unique(c.source[:n]):
                m = c.source[:n] == s
                want[s] = (int(m.sum()), int(c.lengths[:n][m].sum()))
            self.ops.check(got == want, f"serve agg differs: {got} vs {want}")
            return
        if kind == "scan":
            end = c.offsets[n]
            want = (
                n, int(c.lengths[:n].sum()), int(c.flat[:end].astype(np.int64).sum()),
                16 * n, int(sum(len(s) for s in c.source[:n])),
            )
            self.ops.check(res == want, f"serve scan checksum {res} != {want}")
            return
        why = c.mismatch(res, self._expected(kind, args, n))
        self.ops.check(why is None, f"serve {kind} {args}: {why}")

    def verify(self) -> None:
        from poc_parquet_aggregator_spark.encode import read_decoded

        for rec in self.log:
            self._check(rec)
            rec["res"] = None
        # every appended file's docs must read back exactly
        for lo, hi in self.appends:
            tbl = self.guarded(
                "append read-back",
                lambda: read_decoded(self.spark, self.out, doc_id_range=(_doc_id(lo), _doc_id(hi))).toArrow(),
            )
            if tbl is not None:
                why = self.corpus.mismatch(tbl, np.arange(lo, hi + 1))
                self.ops.check(why is None, f"append {lo}-{hi} read-back: {why}")

    def report(self) -> dict[str, tuple[float, str]]:
        timed_ops = [r for r in self.log if r.get("timed")]

        def lat(kinds):
            return [r["s"] for r in timed_ops if r["kind"] in kinds]

        scans = [r for r in timed_ops if r["kind"] == "scan"]
        scan_tps = [
            (self.corpus.offsets[r["n"]]) / r["s"] for r in scans
        ]
        return {
            "scan_tokens_per_s": (median(scan_tps), "tokens/s"),
            "lookup_p50_s": (median(lat(LOOKUPS)), "s"),
            "audit_p50_s": (median(lat(AUDITS)), "s"),
            "read_p90_s": (quantile(lat(SELECTIVE), 0.9), "s"),
            "append_p50_s": (median(lat(("append",))), "s"),
            "selective_reads": (float(len(lat(SELECTIVE))), "count"),
        }

    def probe_tables(self) -> tuple[TokenCorpus, str | None]:
        return self.corpus, self.out


# ──────────────────────────────── query_mix ───────────────────────────────


class QueryMix(Workload):
    """Repeated passes over the ten headline operator queries on seeded
    TPC-H-style tables. Each query is forced with a ``noop`` write after
    ``purge_frame_memo()``. No codec work."""

    name = "query_mix"
    cycle = len(HEADLINE)

    def generate(self) -> None:
        import querydata

        self.data = os.path.join(self.work, "tables")
        shutil.rmtree(self.data, ignore_errors=True)
        querydata.write_tables(querydata.make_tables(self.sizes.query_scale, self.seed), self.data)
        self.i = 0
        self.pass_s: list[float] = []
        self._cur = 0.0

    def _query(self, name: str, collect: bool):
        from poc_parquet_aggregator_spark.operators import QUERIES
        from poc_parquet_aggregator_spark.operators.cache import purge_frame_memo

        purge_frame_memo()
        t0 = time.perf_counter()
        with self.span(f"query.{name}", "operators"):
            df = QUERIES[name](self.spark, self.data)
            if collect:
                out = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        return out, time.perf_counter() - t0

    def warm(self) -> float:
        """Cold first pass, collected and checked once against DuckDB.
        Returns the oracle time, which is not set-up work."""
        import querydata

        from poc_parquet_aggregator_spark.operators import ORACLES

        oracle = querydata.Oracle(self.data, ORACLES)
        oracle_s = 0.0
        try:
            for name in HEADLINE:
                got = self.guarded(f"query {name}", self._query, name, True)
                if got is None:
                    continue
                (cols, rows), _ = got
                t0 = time.perf_counter()
                why = oracle.mismatch(name, cols, rows)
                oracle_s += time.perf_counter() - t0
                self.ops.check(why is None, f"query {name} vs oracle: {why}")
        finally:
            oracle.close()
        return oracle_s

    def step(self) -> float | None:
        name = HEADLINE[self.i % len(HEADLINE)]
        self.i += 1
        self.tracer.new_op()
        with self.span("query_mix.op", "harness"):
            got = self.guarded(f"query {name}", self._query, name, False)
        if got is None:
            return None
        self.ops.check(True, name)
        dt = got[1]
        self._cur += dt
        if self.i % len(HEADLINE) == 0:
            self.pass_s.append(self._cur)
            self._cur = 0.0
        return dt

    def verify(self) -> None:
        pass

    def report(self) -> dict[str, tuple[float, str]]:
        return {"query_pass_s": (median(self.pass_s), "s")}

    def probe_tables(self):
        return None, None


WORKLOADS = {w.name: w for w in (Ingest, Serve, QueryMix)}
