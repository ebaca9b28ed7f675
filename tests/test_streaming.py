"""Incremental encode: each new or changed file is encoded once, decided
by the manifest alone; a file whose extra columns differ from the
committed records' is refused."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from poc_parquet_aggregator_spark.encode import decode_verify, read_decoded, read_manifest
from poc_parquet_aggregator_spark.plans import get_spark
from poc_parquet_aggregator_spark.sources import generate_token_table, write_token_table
from poc_parquet_aggregator_spark.streaming import encode_stream


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
