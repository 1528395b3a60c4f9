"""Physical-plan regression report.

For every registry query, render the optimized physical plan (no
execution) and extract the features that matter at scale: exchange count,
join strategies, scan column width vs table width (pruning), pushed
filters, and Python-eval nodes.  Writes a markdown table so plan
regressions (a lost broadcast, a scan that stops pruning) show up as a
diff in review.

Usage: python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from real_time_data_pipeline_spark.session import get_spark  # noqa: E402


def plan_features(plan: str) -> dict:
    return {
        # formatted mode prints one "(n) NodeName" line per node;
        # \bExchange excludes BroadcastExchange/ReusedExchange
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", plan)),
        "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "bnl": len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)),
        "python": len(re.findall(r"(?:ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|BatchEvalPython)", plan)),
        "scans": re.findall(r"ReadSchema: struct<([^>]*)>", plan),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "cached": len(re.findall(r"\(\d+\) InMemoryTableScan", plan)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLAN_REPORT.md"
    spark = get_spark("plan_report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# Plan report — physical-plan features per registry query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}`. Columns:",
        "shuffles (Exchange nodes), joins by strategy, Python-eval nodes,",
        "max scan width (columns read by the widest parquet scan), scans",
        "with pushed filters, cached subplans.",
        "",
        "| query | shuffles | bcast | smj | bnl | python | max scan cols | pushed | cached |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        # formatted explain: full ReadSchema lines (plain toString
        # truncates wide schemas, under-reporting scan width)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        f = plan_features(plan)
        widest = max((s.count(":") for s in f["scans"]), default=0)
        lines.append(
            f"| {name} | {f['exchanges']} | {f['broadcast_joins']} | {f['smj']} "
            f"| {f['bnl']} | {f['python']} | {widest} | {f['pushed']} | {f['cached']} |"
        )
    report = "\n".join(lines) + "\n"
    with open(out_path, "w") as fh:
        fh.write(report)
    print(report)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
