"""spark-submit entry point for the encode job (north rule launch surface).

Packaged and launched by scripts/run_encode_submit.sh:

    spark-submit --master local[N] --py-files engine.zip \
        scripts/submit_encode.py --input DIR --out DIR [--by-source] \
        [--zstd-level L]

On a real cluster the same invocation takes --master yarn/k8s and the
engine zip ships to executors; nothing in the job is local-mode-specific
except the manifest directory, which would move to an object store /
Iceberg catalog.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--by-source", action="store_true")
    ap.add_argument("--zstd-level", type=int, default=3)
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("encode_tokens").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from poc_parquet_aggregator_spark.encode import (
        decode_verify,
        encode_dataset,
        encode_dataset_by_source,
    )

    if args.by_source:
        metrics = encode_dataset_by_source(
            spark, args.input, args.out, zstd_level=args.zstd_level
        )
    else:
        metrics = encode_dataset(
            spark, args.input, args.out, zstd_level=args.zstd_level
        )
    if args.verify:
        metrics["verify"] = decode_verify(spark, args.input, args.out)
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
