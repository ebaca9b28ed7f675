"""Small-input spread: fix scan underparallelization for per-row-heavy ops.

A single small parquet file scans as ONE task (Spark bin-packs splits up to
its 128 MB default partition size), so compute-heavy per-row work —
shingling, hashing, vector math — runs on one core no matter how many the
session has. ``spread`` repartitions such inputs up to the session's default
parallelism; at real scale the input has at least as many splits as cores
and this is a no-op, so the shuffle only ever moves a few megabytes.

(The relational queries keep their raw scans: their per-row work is cheap
column arithmetic where an extra exchange costs more than it buys, and
their explain-plan pushdown assertions stay byte-stable.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    # file count as the split proxy: a scan never has more partitions than
    # cores-worth of work unless it has at least that many files/splits.
    # (df.rdd.getNumPartitions() would be exact but forces an RDD conversion
    # + analysis per call — measurable overhead across a 50-query gate run.)
    p = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < p:
        return df.repartition(p)
    return df
