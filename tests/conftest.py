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
