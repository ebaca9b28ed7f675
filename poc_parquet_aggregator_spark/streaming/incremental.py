"""Incremental ingest and the Structured Streaming operators.

The reference's "streaming" is chunked batch with incremental writes and an
auto mode selector (/root/reference/src/streaming_processor.py:94-263,
/root/reference/src/streaming_selector.py:12-138, SURVEY.md §2.9) — no
watermarks or event-time state. Spark subsumes it two ways:

* ``encode_stream``: the per-file encode job (``encode_dataset``) over the
  input dir — a file that lands or changes after a run is encoded by the
  next run, once per version, because the manifest's per-file snapshot
  check is the one record of what is encoded. This is the reference's
  incremental-DB-write mode (aggregator_ocp_aws.py:307-350).

* ``streaming_daily_rollup`` / ``streaming_sessionize``: event-time
  operators over a file-source stream with a watermark — beyond
  the reference's capabilities (it recomputes days in full), included
  because any real deployment of this pipeline shape wants late-data
  handling.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def streaming_daily_rollup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> "DataFrame":
    """Event-time windowed rollup over a stream of events rows — the
    streaming twin of operators.relational.q_a1_daily_rollup (reference
    aggregator_pod.py:649-739) with late-data handling the reference lacks.
    Returns the streaming DataFrame (caller starts the query; tests use
    Trigger.AvailableNow + memory sink)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    events = spark.readStream.schema(schema).parquet(input_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("day"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("day.start").cast("date").cast("string").alias("usage_date"),
            "event_type",
            "n_events",
            "sum_value",
            "max_value",
        )
    )


def _merge_sessions(
    ts: "list[int]", carried: tuple | None, gap_s: int
) -> tuple[list[tuple], tuple]:
    """Gap-merge sorted event seconds plus an optional carried open session
    → (closed sessions, open tail). Pure function so the cross-batch
    semantics (late bridges, detached late segments) are unit-testable
    without a streaming harness. Each session tuple is (start, end, n)."""
    import bisect

    import numpy as np

    ts = np.asarray(ts, dtype=np.int64)
    cuts = np.flatnonzero(np.diff(ts) > gap_s)
    starts = np.concatenate(([0], cuts + 1))
    ends = np.concatenate((cuts, [len(ts) - 1]))
    segs = [(int(ts[s]), int(ts[e]), int(e - s + 1)) for s, e in zip(starts, ends)]
    if carried is not None:
        segs.insert(bisect.bisect_left([g[0] for g in segs], carried[0]), tuple(carried))
    merged: list[tuple] = []
    for seg in segs:
        if merged and seg[0] - merged[-1][1] <= gap_s:
            last = merged[-1]
            merged[-1] = (last[0], max(last[1], seg[1]), last[2] + seg[2])
        else:
            merged.append(seg)
    return merged[:-1], merged[-1]


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_s: int = 1800,
    watermark: str = "0 seconds",
    allow_fragmented_late_sessions: bool = False,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization with
    ``applyInPandasWithState`` — the streaming twin of
    operators.extended.q_w4_sessionization and the canonical use of
    per-group state Spark's built-in windows can't express (a session's
    length is data-dependent).

    Watermark contract (r2 ADVICE): sessions closed by an in-batch gap are
    emitted IMMEDIATELY, which matches the batch twin exactly at the
    default ``watermark='0 seconds'`` (Spark then drops any event older
    than the max seen, so an emitted session can never be re-opened). With
    a NONZERO delay, an admitted late event adjacent to an
    already-emitted session would fragment it — append mode cannot
    retract — so that combination is rejected unless the caller opts into
    the fragmentation explicitly via ``allow_fragmented_late_sessions``
    (the watermark-gated alternative — hold every segment in state until
    end+gap falls below the watermark — trades this for state growth and
    timeout-driven emission latency; the batch twin is the right tool when
    exactness under late data matters).

    Per user, GroupState carries the open session (start, last-event time,
    count). Each micro-batch sorts its arrivals (numpy, vectorized within
    the group — applyInPandasWithState's contract is per-group pandas, not
    per-row Python), merges them with the carried session, EMITS every
    session closed by an inactivity gap, and keeps the open tail in state
    with an event-time timeout at last_ts + gap so idle sessions are
    flushed when the watermark passes them.
    """
    if watermark != "0 seconds" and not allow_fragmented_late_sessions:
        raise ValueError(
            "streaming_sessionize emits gap-closed sessions immediately; a "
            "nonzero watermark delay can fragment sessions around admitted "
            "late events (append mode cannot retract). Pass "
            "allow_fragmented_late_sessions=True to accept that, or use the "
            "batch twin q_w4_sessionization for exact late-data semantics."
        )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    in_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ts", LongType()),
            StructField("last_ts", LongType()),
            StructField("n", LongType()),
        ]
    )

    def sessionize(key, pdfs, state: "GroupState"):
        import numpy as np
        import pandas as pd

        (uid,) = key
        cols = ["user_id", "session_start", "session_end", "n_events"]
        if state.hasTimedOut:
            start_ts, last_ts, n = state.get
            state.remove()
            yield pd.DataFrame([(uid, start_ts, last_ts, n)], columns=cols)
            return
        raw = np.concatenate(
            [pdf["ts"].dropna().astype("int64").to_numpy() for pdf in pdfs]
        )  # dropna: a NULL ts would turn into INT64_MIN garbage
        ts = np.sort(raw // 1_000_000_000)
        if len(ts) == 0:
            return
        # fold the carried open session in as one more segment and gap-merge
        # the sorted interval list (_merge_sessions) — the only formulation
        # that matches the batch twin when the watermark admits late data
        carried = tuple(state.get) if state.exists else None
        done, tail = _merge_sessions(ts, carried, gap_s)
        closed = [(uid, s, e, n) for s, e, n in done]
        state.update(tail)
        state.setTimeoutTimestamp((tail[1] + gap_s) * 1000)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    events = spark.readStream.schema(in_schema).parquet(input_dir)
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
