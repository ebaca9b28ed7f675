"""Bounded persisted-frame memo shared by operators (extracted from
dedup.py in round 4 so the flagship pipeline can reuse it).

Two purposes: share expensive intermediate frames ACROSS queries in one
session (the capped-shingle frame feeds both jaccard and minhash), and
bound cache growth — repeated invocations of the same query reuse ONE
persisted frame instead of stacking a fresh ``.cache()`` per call (the
gate runs 50 queries and the bench re-runs each 3× in one session; an
unbounded cache was flagged in round 2). When a new (kind, session, sf)
arrives, the previous entry of the same kind is unpersisted. Keyed by
``applicationId``, not ``id(sparkContext)``: CPython can reuse an id after
a context stop/restart, which would hand back a frame bound to a dead
context (r3 ADVICE).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

_FRAME_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def package_py_entries() -> list[tuple[str, str]]:
    """(abs_path, zip_relpath) of every .py file in this package, sorted by
    relpath — shared by the worker-pyfiles zip (dedup) and the code-version
    cache keys below."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                entries.append(
                    (full, os.path.relpath(full, os.path.dirname(pkg_dir)))
                )
    return sorted(entries, key=lambda e: e[1])


def package_code_hash() -> str:
    """Content hash of the package source. On-disk caches of ENGINE OUTPUT
    (e.g. the encoded-gate scratch trees) must include this in their key:
    a cache keyed on input stats alone would keep reporting green after a
    regression in the very kernels it certifies (r4 ADVICE)."""
    h = hashlib.md5()
    for full, rel in package_py_entries():
        h.update(rel.encode())
        h.update(open(full, "rb").read())
    return h.hexdigest()[:12]


def memo_key(kind: str, spark: SparkSession, sf: str) -> tuple[str, str, str]:
    return (kind, spark.sparkContext.applicationId, sf)


def memo_frame(kind: str, spark: SparkSession, sf: str, build) -> DataFrame:
    key = memo_key(kind, spark, sf)
    if key in _FRAME_MEMO:
        return _FRAME_MEMO[key]
    for old_key in list(_FRAME_MEMO):
        if old_key[0] == kind:
            try:
                _FRAME_MEMO.pop(old_key).unpersist()
            except Exception:
                pass
    df = build().persist()
    _FRAME_MEMO[key] = df
    return df


def purge_frame_memo() -> None:
    """Unpersist and drop every memoized frame (bench uses this so each
    timed run is cold). The purge is SYNCHRONOUS since round 7: blocking
    unpersists, then one JVM GC so the ContextCleaner's deferred
    shuffle/broadcast cleanup from the previous run completes now —
    interleaved tier measurements showed the run started immediately
    after an async purge paying ~2× CPU on identical work (async block
    removal + cleanup backlog contend with the new run's execution
    memory), while a short idle pause healed it. The purge runs OUTSIDE
    the bench's timed windows, so this trades untimed cleanup time for
    timed runs that start from a genuinely clean session; the timed work
    itself is unchanged and still computes everything from the parquet
    inputs."""
    spark = None
    for key in list(_FRAME_MEMO):
        try:
            df = _FRAME_MEMO.pop(key)
            spark = df.sparkSession
            df.unpersist(blocking=True)
        except Exception:
            pass
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
