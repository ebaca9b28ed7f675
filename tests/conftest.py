"""Shared test helpers."""

from __future__ import annotations

import pytest

from poc_parquet_aggregator_spark.encode import pipeline
from poc_parquet_aggregator_spark.encode.pipeline import _plan_decode, _read_local, _read_spark


@pytest.fixture(scope="session")
def runners():
    """Each read runner as ``read(spark, out_dir, **read_decoded kwargs)``,
    by name: the read tests run once per runner by calling the runners
    directly, whichever one ``read_decoded`` would pick for the data."""

    def bind(run):
        def read(spark, out_dir, **kw):
            plan, names = _plan_decode(out_dir, **kw)
            return run(spark, plan, names)

        return read

    return {"local": bind(_read_local), "spark": bind(_read_spark)}


@pytest.fixture
def encode_runners(monkeypatch):
    """``encode_runners()`` yields each encode runner's name; while it is
    current, every encode job runs on it (``_LOCAL_ENCODE_BYTES`` set past
    or below any input), whichever one the job's size would pick. The
    encode tests loop over it."""

    def each():
        for name, limit in (("local", 1 << 62), ("spark", -1)):
            monkeypatch.setattr(pipeline, "_LOCAL_ENCODE_BYTES", limit)
            yield name

    return each


@pytest.fixture(scope="session")
def split_parts():
    """``split_parts(out_dir)`` rewrites each record's one part as two,
    committed through the record: the multi-part stems that builds which
    split an input file across Spark tasks wrote, and that
    ``compact_encoded`` merges. Each part needs two chunk rows."""
    import pyarrow.parquet as pq

    def split(out_dir: str) -> None:
        for stem, rec in pipeline.read_manifest(out_dir).items():
            (part,) = rec["parts"]
            tbl = pq.read_table(f"{out_dir}/{part}")
            assert tbl.num_rows > 1, stem
            half = tbl.num_rows // 2
            parts = sorted(pipeline._write_part(out_dir, stem, t)
                           for t in (tbl.slice(0, half), tbl.slice(half)))
            pipeline._commit(out_dir, {**rec, "parts": parts, "n_parts": 2})

    return split
