"""The command line (``python -m poc_parquet_aggregator_spark``) end to
end on a 2,000-doc table. Each command runs in its own process: the
Spark commands stop their session on exit, which would stop the one the
other tests share."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def _cli(*args: str) -> tuple[int, dict]:
    """Run one command; returns (exit code, the JSON its last line holds)."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))}
    run = subprocess.run([sys.executable, "-m", "poc_parquet_aggregator_spark", *args],
                         cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert run.stdout.strip(), run.stderr[-2000:]
    return run.returncode, json.loads(run.stdout.strip().splitlines()[-1])


def test_cli_encodes_verifies_and_maintains_a_table(tmp_path):
    src, out, by_source = (str(tmp_path / d) for d in ("src", "enc", "by_source"))
    assert _cli("gen", "--out", src, "--docs", "2000", "--docs-per-file", "500") == (
        0, {"files": 4, "out": src})
    code, m = _cli("encode", "--input", src, "--out", out)
    assert code == 0 and (m["files_encoded"], m["n_docs"]) == (4, 2000)
    code, m = _cli("encode", "--input", src, "--out", by_source, "--by-source")
    assert code == 0 and m["n_docs"] == 2000 and m["buckets_total"] > 0
    code, v = _cli("verify", "--input", src, "--out", out)
    assert code == 0 and v["bit_identical"] and v["ok"] == 2000
    code, totals = _cli("manifest", "--out", out)
    assert code == 0 and (totals["units"], totals["n_docs"]) == (4, 2000)
    assert _cli("compact", "--out", out) == (0, {"records": 4, "absorbed": 4, "segments": 1})
    os.makedirs(os.path.join(out, "data", "tokens-gone"))
    assert _cli("compact-data", "--out", out) == (0, {"stems_swept": 1})
    assert _cli("manifest", "--out", out) == (0, totals)
