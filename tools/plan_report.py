"""Plan-health report over the bench headline queries.

Runs each headline query with ``collect()`` and dumps a markdown table of
signals from the plan Spark executed, AQE's rewrites included — exchanges,
broadcast vs sort-merge joins, nested loops, whole-stage-codegen stages,
scans — the things a 100 TB review checks first. Nodes are counted through
``metrics._plan_nodes``, so a reused exchange counts once. Run after plan
changes and commit the output (PLAN_AUDIT.md) so plan regressions show up
in diffs, not just in wall-clock.

Usage: python tools/plan_report.py [sf_dir] [-o PLAN_AUDIT.md]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("-o", "--output", default=None)
    args = ap.parse_args()
    sf_dir, out_path = args.sf_dir, args.output

    from bench import HEADLINE
    from datafusion_datasource_orc_spark.operators import QUERIES
    from datafusion_datasource_orc_spark.plans.pushdown import _name, _nodes
    from datafusion_datasource_orc_spark.session import get_spark

    spark = get_spark(app_name="plan_report")
    lines = [
        "# PLAN_AUDIT — physical-plan signals per headline query",
        "",
        f"Generated by tools/plan_report.py at {os.path.basename(sf_dir.rstrip('/'))}.",
        "Counts come from the executed plans: each query runs once with",
        "collect(), and its final AQE plan is walked with every node counted",
        "once (a reused exchange or scan counts once).",
        "",
        "| query | exchanges | bcast joins | SMJ | nested loop | codegen stages | scans |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        c = Counter(_name(n) for n in _nodes(df))
        ex = c["ShuffleExchangeExec"]
        bj = c["BroadcastHashJoinExec"]
        smj = c["SortMergeJoinExec"]
        bnl = c["BroadcastNestedLoopJoinExec"] + c["CartesianProductExec"]
        wsc = c["WholeStageCodegenExec"]
        scans = c["FileSourceScanExec"] + c["BatchScanExec"] + c["RDDScanExec"]
        lines.append(f"| {name} | {ex} | {bj} | {smj} | {bnl} | {wsc} | {scans} |")
        print(lines[-1])
    text = "\n".join(lines) + "\n"
    if out_path:
        with open(out_path, "w") as f:
            f.write(text)
        print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
