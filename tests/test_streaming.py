"""Incremental encode (each new or changed file encoded once, decided by
the manifest alone; a file whose extra columns differ from the
committed records' is refused) and the Structured Streaming operators:
the watermarked daily rollup and gap sessionization."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from poc_parquet_aggregator_spark.encode import decode_verify, read_decoded, read_manifest
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import generate_token_table, write_token_table
from poc_parquet_aggregator_spark.streaming import encode_stream, streaming_daily_rollup


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        "streaming_tests", cores=4, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def test_incremental_encode_stream(spark, tmp_path, encode_runners):
    for runner in encode_runners():
        src = str(tmp_path / runner / "src")
        out = str(tmp_path / runner / "out")
        write_token_table(src, 2000, docs_per_file=1000)
        s1 = encode_stream(spark, src, out)
        assert (s1["files"], s1["runner"]) == (2, runner)
        assert decode_verify(spark, src, out)["bit_identical"]
        # files 2 and 3 land next to the committed ones → only they are encoded
        landing = str(tmp_path / runner / "landing")
        for p in write_token_table(landing, 4000, docs_per_file=1000)[2:]:
            os.replace(p, os.path.join(src, os.path.basename(p)))
        s2 = encode_stream(spark, src, out)
        assert s2["files"] == 2  # the manifest skips the committed files
        assert len(read_manifest(out)) == 4
        assert decode_verify(spark, src, out)["bit_identical"]
        # nothing new → nothing encoded
        s3 = encode_stream(spark, src, out)
        assert s3["files"] == 0


def test_encode_stream_re_encodes_a_file_rewritten_in_place(spark, tmp_path, encode_runners):
    """The manifest's snapshot check is the one record of what is encoded:
    a file rewritten in place between two calls is encoded again, and
    reads serve its new rows, on each encode runner."""
    for runner in encode_runners():
        src = str(tmp_path / runner / "src")
        out = str(tmp_path / runner / "out")
        paths = write_token_table(src, 2000, docs_per_file=1000)
        assert encode_stream(spark, src, out)["files"] == 2
        pq.write_table(generate_token_table(1000, seed=7), paths[0], compression="zstd")
        assert encode_stream(spark, src, out)["files"] == 1
        assert decode_verify(spark, src, out)["bit_identical"], runner


def test_encode_stream_empty_input_dir(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    assert encode_stream(spark, str(src), str(tmp_path / "out"))["files"] == 0


def test_encode_stream_append_with_other_extras_raises(spark, tmp_path, encode_runners):
    """An appended file whose only extra column is ``q`` next to committed
    files with ``lang``: the append raises naming both lists before any
    task runs, on each encode runner, and the table still reads its rows
    with ``lang``."""
    tbl = generate_token_table(1000, seed=8)
    lang = pa.array(["en", "de"] * 500)
    other = generate_token_table(500, seed=9, start_id=1000)
    for runner in encode_runners():
        src = str(tmp_path / runner / "src")
        out = str(tmp_path / runner / "out")
        os.makedirs(src)
        pq.write_table(tbl.append_column("lang", lang), f"{src}/tokens-a.parquet")
        assert encode_stream(spark, src, out)["files"] == 1
        pq.write_table(other.append_column("q", pa.array(range(500), pa.int32())),
                       f"{src}/tokens-b.parquet")
        with pytest.raises(ValueError, match=r"\[\['lang', 'string'\]\].*\[\['q', 'integer'\]\]"):
            encode_stream(spark, src, out)
        assert list(read_manifest(out)) == ["tokens-a"]
        got = read_decoded(spark, out, columns=["doc_id", "lang"]).toArrow()
        assert got.num_rows == 1000
        assert sorted(got.column("lang").to_pylist()) == sorted(lang.to_pylist())


def test_streaming_daily_rollup_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.write.mode("overwrite").parquet(events_dir)

    sdf = streaming_daily_rollup(spark, events_dir, str(tmp_path / "ckpt"))
    q = (
        sdf.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["usage_date"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from rollup_test").collect()
    }
    expect = {
        (r["usage_date"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in (
            src.groupBy(
                F.to_date("ts").cast("string").alias("usage_date"), "event_type"
            )
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .collect()
        )
    }
    assert got == expect


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: state carries open sessions
    ACROSS micro-batches (maxFilesPerTrigger=1 forces one batch per file);
    sessions closed by an inactivity gap are emitted exactly once."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_parquet_aggregator_spark.streaming import streaming_sessionize

    src = str(tmp_path / "events")
    os.makedirs(src)

    def write(name, rows):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array(
                    [r[1] * 1_000_000 for r in rows], type=pa.timestamp("us")
                ),
            }
        )
        pq.write_table(tbl, f"{src}/{name}.parquet")

    # NB: event times must sit ABOVE the initial watermark (epoch 0) or the
    # stateful operator drops them as late — hence the base offset.
    B = 1_000_000
    # batch A: user 1 events at +0,+100,+200; user 2 at +0 and +4000
    write("a", [(1, B), (1, B + 100), (1, B + 200), (2, B), (2, B + 4000)])
    time.sleep(1.1)  # file source orders batches by mtime
    # batch B: user 1 at +250 (merges with open session) then +5000 (gap →
    # closes +0..+250); user 2 at +4100 (merges, stays open)
    write("b", [(1, B + 250), (1, B + 5000), (2, B + 4100)])

    q = (
        streaming_sessionize(spark, src, gap_s=1800)
        .writeStream.format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # user 1: +0..+250 (4 events, merged ACROSS the batch boundary) closed
    # by the +5000 gap; user 2: the single event at +0 closed by the +4000
    # gap. Open tails (1@+5000, 2@+4000..+4100) stay in state — not emitted.
    assert got == {(1, B, B + 250, 4), (2, B, B, 1)}


def test_merge_sessions_late_data_semantics():
    """The cross-batch merge must match the batch twin under admitted late
    data: a late event can BRIDGE two batch segments through the carried
    session, and a detached late segment closes on its own (both were wrong
    under a first-segment-only merge)."""
    from poc_parquet_aggregator_spark.streaming.incremental import _merge_sessions

    gap = 1800
    # bridge: carried (0..1000); batch has late 100 and new 2000. 2000-1000
    # <= gap, so everything is ONE open session — nothing closes.
    closed, tail = _merge_sessions([100, 2000], (0, 1000, 3), gap)
    assert closed == [] and tail == (0, 2000, 5)
    # detached late segment: carried (10000..11000); late event at 100 is
    # its own closed session, carried stays open untouched.
    closed, tail = _merge_sessions([100], (10000, 11000, 4), gap)
    assert closed == [(100, 100, 1)] and tail == (10000, 11000, 4)
    # no carried state: plain gap split
    closed, tail = _merge_sessions([0, 100, 5000], None, gap)
    assert closed == [(0, 100, 2)] and tail == (5000, 5000, 1)
    # carried merges and a later in-batch gap still closes the merged one
    closed, tail = _merge_sessions([1200, 9000], (0, 1000, 2), gap)
    assert closed == [(0, 1200, 3)] and tail == (9000, 9000, 1)


def test_sessionize_rejects_unsafe_watermark(spark, tmp_path):
    """Nonzero watermark delay + immediate emission can fragment sessions
    around admitted late events — must be an explicit opt-in."""
    import pytest

    from poc_parquet_aggregator_spark.streaming import streaming_sessionize

    with pytest.raises(ValueError, match="fragment"):
        streaming_sessionize(spark, str(tmp_path), watermark="10 minutes")
    # explicit opt-in builds the plan without error
    df = streaming_sessionize(
        spark, str(tmp_path), watermark="10 minutes",
        allow_fragmented_late_sessions=True,
    )
    assert df.isStreaming
