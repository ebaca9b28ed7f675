"""Incremental ingest: ``encode_stream`` encodes the input files that are
new or changed since its last call.

The reference's "streaming" is chunked batch with incremental writes
(its src/streaming_processor.py, SURVEY.md §2.9). Here it is the per-file encode job (``encode_dataset``) over the input
dir: a file that lands or changes after a run is encoded by the next run,
once per version, because the manifest's per-file snapshot check is the
one record of what is encoded. This is the reference's incremental-DB-write
mode (aggregator_ocp_aws.py:307-350).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

from ..encode.pipeline import encode_dataset


def encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    zstd_level: int = 3,
) -> dict:
    """Encode the parquet files of ``input_dir`` that are new or changed
    since the last call: ``encode_dataset`` over the dir, whose manifest
    snapshot check skips the files already committed. Returns its metrics
    plus ``files``, the number of files encoded; a dir without parquet
    files returns ``files: 0``. ``checkpoint_dir`` is ignored (kept for
    callers that still pass it)."""
    if not glob.glob(os.path.join(input_dir, "*.parquet")):
        return {"files": 0}
    metrics = encode_dataset(spark, input_dir, out_dir, zstd_level)
    return {**metrics, "files": metrics["files_encoded"]}
