"""Plan diagnostics for every queries() entry: scan width (column pruning),
pushed filters, join strategies, exchange (shuffle) count, WSCCodegen spans.

Usage: python scripts/explain_plans.py [sf_dir] [name_prefix] [-v]
-v prints the full formatted plan for matching queries.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("-") else ""
    verbose = "-v" in sys.argv

    import __spark_entry__ as entry
    from poc_parquet_aggregator_spark.plans import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    for name, fn in entry.queries().items():
        if only and not name.startswith(only):
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        n_shuffles = plan.count("Exchange")
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|ShuffledHashJoin)", plan)
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        scan_widths = [len(s.split(",")) if s else 0 for s in scans]
        # under AQE the pre-execution plan carries no codegen annotation:
        # force THIS Dataset's own queryExecution (collect — a write would
        # execute a copy and leave df's plan non-final), then count "*(N)"
        # spans in the FINAL plan + runtime ReusedExchange dedup
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        wsc = len(set(re.findall(r"\*\((\d+)\)", final)))
        reused = final.count("ReusedExchange")
        print(
            f"{name:28s} shuffles={n_shuffles:2d} joins={','.join(sorted(set(joins))) or '-':30s} "
            f"scan_cols={scan_widths} pushed={[p for p in pushed if p][:2]} wsc={wsc} reused_exch={reused}"
        )
        if verbose:
            print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
