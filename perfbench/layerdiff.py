"""Compare two sets of benchmark runs layer by layer.

    python3 perfbench/layerdiff.py A B

A and B are each a run record written by ``run.py`` (``perfbench/results/
*.json``) or a directory of them. Runs are grouped by workload and by
traced or untraced mode; for every metric the command prints each side's
median and quartiles over its runs and the ratio of the medians, B over A.
Where a side holds both traced and untraced runs of a workload, the row
``trace.total_overhead_s`` is the traced runs' median ``pass_s`` minus the
untraced runs' median ``pass_s``: the whole cost of tracing, event log
included.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """(workload, trace) -> metric -> values, one value per run."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict = defaultdict(lambda: defaultdict(list))
    for name in files:
        with open(name) as f:
            rec = json.load(f)
        ctx = rec["context"]
        metrics = out[(ctx["workload"], ctx["trace"])]
        for key, value in {**rec["end_to_end"], **rec["layers"]}.items():
            metrics[key].append(float(value))
    for (workload, trace), metrics in list(out.items()):
        untraced = out.get((workload, 0), {}).get("pass_s")
        if trace and untraced and metrics.get("pass_s"):
            metrics["trace.total_overhead_s"] = [
                statistics.median(metrics["pass_s"]) - statistics.median(untraced)
            ]
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (load(p) for p in argv)
    print(f"{'workload':14} {'mode':6} {'metric':32} {'A median [q1, q3]':>36} "
          f"{'B median [q1, q3]':>36} {'B/A':>7}")
    for key in sorted(set(a) | set(b)):
        workload, trace = key
        for metric in sorted(set(a.get(key, {})) | set(b.get(key, {}))):
            cells = []
            medians = []
            for side in (a, b):
                values = side.get(key, {}).get(metric)
                if not values:
                    cells.append(f"{'-':>36}")
                    medians.append(None)
                    continue
                q1, med, q3 = quartiles(values)
                medians.append(med)
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]".rjust(36))
            ratio = (
                f"{medians[1] / medians[0]:7.3f}"
                if None not in medians and medians[0]
                else f"{'-':>7}"
            )
            mode = "traced" if trace else "e2e"
            print(f"{workload:14} {mode:6} {metric:32} {cells[0]} {cells[1]} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
