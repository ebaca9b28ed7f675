"""Runner crossover sweeps: the latency of the in-process and Spark
runners of reads (against the encoded bytes a read keeps) and of encode
jobs (against their input bytes).

Usage: python scripts/runner_sweep.py IN_DIR ENC_DIR K1,K2,... [REPS]
       python scripts/runner_sweep.py encode WORK_DIR D1,D2,... [REPS]

Read sweep (the first form):

Writes a 64k-doc token table (seed 1, 2,000 docs per file, so 32
records) to IN_DIR and encodes it to ENC_DIR unless they exist. For each
K, a ``doc_id_range`` read keeps the first K records, every column; each
runner serves it to ``toArrow`` and to the serve workload's scan
aggregate. Prints one JSON line per K: the kept ``bytes_out`` in MiB and
the median of REPS (default 5) warm runs per runner and action. The
crossover is where ``_LOCAL_READ_BYTES`` belongs (ARCHITECTURE §4).

Encode sweep (``encode``): for each D, a token table of D thousand docs
(seed 1, 2,000 docs per file, like the ingest corpus) is written under
WORK_DIR unless it exists, and encoded into a fresh dir by
``encode_dataset`` and ``encode_dataset_by_source`` on each runner (the
runner forced through ``_LOCAL_ENCODE_BYTES``). Prints one JSON line per
D: the input's on-disk MiB, the median of REPS (default 3) warm runs
per layout and runner, and each runner's by-source ``buckets_total``
and ``max_bucket_token_share`` (the skew the salts leave).
``_LOCAL_ENCODE_BYTES`` belongs at or below the smaller of the two
layouts' crossovers (ARCHITECTURE §1).

Uses 4 cores. The package is imported from the tree this script lives
in, on the driver and on the Python workers.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from poc_parquet_aggregator_spark.encode import (  # noqa: E402
    encode_dataset,
    encode_dataset_by_source,
    pipeline,
    read_manifest,
)
from poc_parquet_aggregator_spark.encode.pipeline import (  # noqa: E402
    _plan_decode,
    _read_local,
    _read_spark,
)
from poc_parquet_aggregator_spark.plans import get_spark  # noqa: E402
from poc_parquet_aggregator_spark.sources import write_token_table  # noqa: E402


def _aggregate(df):
    tok_sum = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.agg(
        F.count("*"), F.sum("n_tok"), F.sum(tok_sum),
        F.sum(F.length("doc_id")), F.sum(F.length("source")),
    ).collect()


def _median_s(fn, reps: int) -> float:
    fn()  # warm
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 3)


def encode_sweep(spark, work: str, ds: list[int], reps: int) -> None:
    for d in ds:
        in_dir = os.path.join(work, f"in-{d}k")
        if not os.path.isdir(in_dir):
            write_token_table(in_dir, d * 1000, docs_per_file=2000, seed=1)
        size = sum(os.stat(f).st_size for f in glob.glob(os.path.join(in_dir, "*.parquet")))
        row = {"docs": d * 1000, "input_mib": round(size / 2**20, 2)}
        out = os.path.join(work, "out")
        for layout, encode in (("per_file", encode_dataset), ("by_source", encode_dataset_by_source)):
            for runner, limit in (("local", 1 << 62), ("spark", -1)):
                pipeline._LOCAL_ENCODE_BYTES = limit
                metrics = {}

                def run():
                    shutil.rmtree(out, ignore_errors=True)
                    metrics.update(encode(spark, in_dir, out))
                    assert metrics["runner"] == runner

                row[f"{layout}_{runner}_s"] = _median_s(run, reps)
                if layout == "by_source":
                    row[f"{layout}_{runner}_buckets_total"] = metrics["buckets_total"]
                    row[f"{layout}_{runner}_max_bucket_token_share"] = round(
                        metrics["max_bucket_token_share"], 3)
        print(json.dumps(row), flush=True)


def main() -> int:
    if len(sys.argv) not in (4, 5):
        print(__doc__)
        return 2
    spark = get_spark(app_name="runner-sweep", cores=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    if sys.argv[1] == "encode":
        reps = int(sys.argv[4]) if len(sys.argv) == 5 else 3
        encode_sweep(spark, sys.argv[2], [int(d) for d in sys.argv[3].split(",")], reps)
        spark.stop()
        return 0
    in_dir, enc_dir, ks = sys.argv[1], sys.argv[2], [int(k) for k in sys.argv[3].split(",")]
    reps = int(sys.argv[4]) if len(sys.argv) == 5 else 5
    write_token_table(in_dir, 64000, docs_per_file=2000, seed=1)
    if not os.path.isdir(enc_dir):
        encode_dataset(spark, in_dir, enc_dir)
    records = sorted(read_manifest(enc_dir).values(), key=lambda r: r["doc_id_min"])
    actions = {"toArrow": lambda df: df.toArrow(), "agg": _aggregate}
    for k in ks:
        plan, names = _plan_decode(
            enc_dir, doc_id_range=(records[0]["doc_id_min"], records[k - 1]["doc_id_max"])
        )
        row = {"files": k, "bytes_kept_mib": round(plan.funnel["bytes_kept"] / 2**20, 2)}
        for runner, run in (("local", _read_local), ("spark", _read_spark)):
            for action, act in actions.items():
                row[f"{runner}_{action}_s"] = _median_s(
                    lambda: act(run(spark, plan, names)), reps
                )
        print(json.dumps(row), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
