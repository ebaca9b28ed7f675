"""Tests of the benchmark itself (not of the engine):

    python -m pytest perfbench/test_smoke.py -q

Each runs ``run.py --smoke`` at tiny sizes in a subprocess, as a user
would, and checks what it prints.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402

LINE = re.compile(r"^(\w+) (layer )?([\w.]+) = (\S+) (\S+)$")


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=1500,
    )


def _printed(stdout: str) -> dict[tuple[str, str], tuple[float, str]]:
    out = {}
    for line in stdout.splitlines():
        m = LINE.match(line)
        if m:
            out[(m.group(1), m.group(3))] = (float(m.group(4)), m.group(5))
    return out


def test_every_workload_prints_every_metric_with_no_errors():
    p = _bench(ROOT, "--workload", "all", "--seed", "3", "--seconds", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    printed = _printed(p.stdout)
    for workload, named in run.NAMED.items():
        for name in (*named, "setup_s", "op_p50_s", "ops_per_s", "peak_rss_mb", "error_rate"):
            value, unit = printed[(workload, name)]
            assert math.isfinite(value) and unit, (workload, name)
        assert printed[(workload, "error_rate")][0] == 0.0


def test_traced_run_reports_every_layer_metric():
    p = _bench(ROOT, "--workload", "ingest", "--seed", "4", "--seconds", "1", "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    assert list(metrics) == list(layers.NAMES)
    for name, m in metrics.items():
        assert math.isfinite(m["value"]) and m["unit"] == layers.NAMES[name], name


def test_benchmark_file_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == list(layers.NAMES)
    assert [m["unit"] for m in spec["per_layer"]] == list(layers.NAMES.values())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _bench(str(tmp_path), "--workload", "ingest", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
