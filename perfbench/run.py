"""Benchmark of the token codec engine: ingest, serve and query_mix.

    python3 perfbench/run.py --workload serve --seed 3 --seconds 12 --trace 0

Run from the root of a checkout. One process, one ``local[min(4, nproc)]``
Spark session, closed loops with a single client. ``--trace 0`` measures
the end-to-end metrics with tracing off; ``--trace 1`` runs the same loop
untraced and then traced, probes every layer, and reports the per-layer
metrics and the tracing overhead. Human-readable lines come first; the
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--workload all`` runs the three workloads in one session. ``--smoke``
runs at a tiny size and fails unless every metric is printed with its
unit and no operation failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

import harness
import layers
import workloads
from harness import ROOT, WORK, Ops, RssSampler, Tracer, median, timed

WORKLOAD_NAMES = ("ingest", "serve", "query_mix")
# The metrics every workload reports with tracing off (BENCHMARK.json
# "end_to_end"); query_mix encodes nothing, so it has no bytes_ratio.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "bytes_ratio": "ratio",
}
# The workload-specific metrics printed on the human-readable lines.
NAMED = {
    "ingest": ("encode_tokens_per_s", "salted_tokens_per_s", "bytes_ratio"),
    "serve": ("scan_tokens_per_s", "lookup_p50_s", "audit_p50_s", "read_p90_s", "append_p50_s"),
    "query_mix": ("query_pass_s",),
}
MAX_FAILURES = 20


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs; assert every metric prints")
    return p.parse_args(argv)


def loop(w, seconds: float, ops: Ops) -> dict:
    """Closed loop, one client: run ``w.step()`` until ``seconds`` pass,
    then on to the end of the workload's operation cycle, so every window
    holds whole cycles and its median is over the same mix of operations
    however fast they run. Returns the window's metrics from the
    operations that completed."""
    lat: list[float] = []
    t0 = time.perf_counter()
    n = 0
    while (time.perf_counter() - t0 < seconds or n % w.cycle) and ops.failed < MAX_FAILURES:
        n += 1
        dt = w.step()
        if dt is not None:
            lat.append(dt)
    return {"op_p50_s": median(lat), "ops_per_s": len(lat) / (time.perf_counter() - t0)}


def run_workload(name: str, spark, session_s: float, args, work: str, ops: Ops):
    sizes = workloads.Sizes(args.smoke)
    tracer = Tracer(enabled=bool(args.trace))
    tracer.record("plans.session_start", "plans", session_s)
    wdir = os.path.join(work, name)
    w = workloads.WORKLOADS[name](spark, wdir, args.seed, sizes, ops, tracer)
    with RssSampler() as rss:
        gens = []
        for _ in range(sizes.gen_reps):
            with tracer.span("sources.generate", "sources"):
                _, dt = timed(w.generate)
            gens.append(dt)
        with tracer.span("plans.warmup", "plans"):
            untimed, warm_s = timed(w.warm)
        warm_s -= untimed or 0.0
        tracer.enabled = False
        window = loop(w, args.seconds, ops)
    setup = {"gen_s": median(gens), "session_start_s": session_s, "warmup_s": warm_s}
    e2e = {"setup_s": session_s + setup["gen_s"] + warm_s, **window, "peak_rss_mb": rss.peak_mb}
    if w.ratio is not None:
        e2e["bytes_ratio"] = w.ratio
    per_layer = None
    if args.trace:
        tracer.enabled = True
        traced = loop(w, args.seconds, ops)
        overhead = (traced["op_p50_s"] - e2e["op_p50_s"], traced["ops_per_s"] - e2e["ops_per_s"])
    w.verify()
    named = w.report()
    if args.trace:
        corpus, served = w.probe_tables()
        counts = layers.probe(tracer, spark, wdir, args.seed, corpus, served, sizes)
        ops.check(counts["kernel_ok"], f"{name}: chunk decode is not bit-identical")
        per_layer = layers.per_layer(tracer, counts, setup, overhead)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{name}-seed{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
    return e2e, named, per_layer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "poc_parquet_aggregator_spark")):
        print(
            f"perfbench: the engine package poc_parquet_aggregator_spark is not under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.fit_host(work)
    ops = Ops()
    results = {}
    spark, session_s = timed(harness.start_spark, work)
    try:
        for name in names:
            results[name] = run_workload(name, spark, session_s, args, work, ops)
            session_s = 0.0  # paid once per process
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics: dict[str, dict] = {}
    missing = []
    for name, (e2e, named, per_layer) in results.items():
        lines = dict(named)
        lines.update({k: (v, END_TO_END[k]) for k, v in e2e.items()}, error_rate=(ops.error_rate, "ratio"))
        if per_layer:
            lines.update({f"layer {k}": (v, layers.NAMES[k]) for k, v in per_layer.items()})
        for k, (v, unit) in lines.items():
            print(f"{name} {k} = {v:.6g} {unit}")
        missing += [f"{name} {k}" for k, (v, _) in lines.items() if not math.isfinite(v)]
        prefix = f"{name}." if len(results) > 1 else ""
        if args.trace:
            metrics.update({prefix + k: {"value": v, "unit": layers.NAMES[k]} for k, v in per_layer.items()})
        else:
            metrics.update({prefix + k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    smoke_failed = args.smoke and (missing or ops.failed)
    if smoke_failed:
        print(f"SMOKE FAILED: not finite {missing}; errors {ops.errors[:5]}", file=sys.stderr)
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics,
    }))
    return 1 if smoke_failed else 0


if __name__ == "__main__":
    sys.exit(main())
