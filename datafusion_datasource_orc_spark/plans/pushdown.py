"""Physical-plan introspection: prove pushdown reached the scan.

The reference renders ``predicate=`` into its plan display
(src/source.rs:240-255) and negotiates per-filter pushdown
(src/source.rs:257-289). Spark's equivalent signals sit on the scan nodes
of the physical plan, the facts ``df.explain("formatted")`` prints:

- ``PushedFilters: [IsNotNull(x), EqualTo(x,1)]``  — predicate pushdown (A8)
- ``ReadSchema: struct<a:int,b:string>``           — projection pushdown (A7)
- ``(N) Scan orc`` / ``Location``                  — which source, which files

These helpers read them off the plan's nodes through ``metrics._plan_nodes``
(the one walker, which sees through AQE), so tests can assert, per
predicate shape, that the filter was actually pushed (the reference's test
strategy, tests/predicate_pushdown.rs) — and that plans stay inside
WholeStageCodegen. The plan read is the one ``df`` holds: before an action
it is the plan AQE starts from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from datafusion_datasource_orc_spark.metrics import _plan_nodes

# nodes formatted explain does not list as operators
_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter", "SubqueryExec", "SubqueryAdaptiveBroadcastExec")


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _split_top_level(body: str, opens: str = "([<", closes: str = ")]>") -> list[str]:
    """Split 'A(x,1), Or(B(y,2),C(z,3))' on depth-0 commas only, tracking
    every bracket kind — In(attr, [A,R]) and map<string,int> must not split
    at their inner commas."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch in opens:
            depth += 1
        elif ch in closes:
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _nodes(df: DataFrame) -> list:
    return _plan_nodes(df._jdf.queryExecution().executedPlan())


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _scans(df: DataFrame) -> list:
    return [n for n in _nodes(df) if _name(n) in ("FileSourceScanExec", "BatchScanExec")]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans, flattened: the
    entry a file scan holds in ``metadata()``, or a DSv2 scan (the Python
    data source) in ``scan().getMetaData()``. Not ``pushedDownFilters()``,
    which evaluates scalar subqueries and raises on a plan that has not run.

    NOTE: Spark renders PushedFilters in the plan even when
    spark.sql.orc.filterPushdown=false — the display shows *candidate*
    filters; the conf gates whether the reader builds SearchArguments. (The
    reference's display is equivalent: predicate= always rendered,
    src/source.rs:240-255.)"""
    out: list[str] = []
    for scan in _scans(df):
        meta = scan.metadata() if _name(scan) == "FileSourceScanExec" else scan.scan().getMetaData()
        entry = meta.get("PushedFilters")
        if entry.isDefined():
            out.extend(_split_top_level(entry.get()[1:-1]))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each scan's read schema — the projection that
    reached the reader (column pruning proof)."""
    return [
        list(
            (s.requiredSchema() if _name(s) == "FileSourceScanExec" else s.scan().readSchema())
            .fieldNames()
        )
        for s in _scans(df)
    ]


def uses_whole_stage_codegen(df: DataFrame, execute: bool = True) -> bool:
    """True if the physical plan contains WholeStageCodegen stages. Under
    AQE the final plan only materializes on execution, so by default the
    plan is run first (intended for tests / plan iteration on small data,
    not production hot paths)."""
    if execute:
        # collect(), not count(): count() builds a *different* QueryExecution;
        # only executing this exact plan finalizes its AQE plan in place.
        df.collect()
    return any(_name(n) == "WholeStageCodegenExec" for n in _nodes(df))


def plan_nodes(df: DataFrame) -> list[str]:
    """Physical-plan node names, each node once (``metrics._plan_nodes``),
    without the wrappers formatted explain does not list as operators."""
    return [n.nodeName().strip() for n in _nodes(df) if _name(n) not in _WRAPPERS]


def scan_summary(df: DataFrame, execute_for_codegen: bool = False) -> dict:
    """One-call scan report for plan-quality iteration (.explain and check)."""
    nodes = plan_nodes(df)
    return {
        "formats": [n.split()[1] for n in nodes if n.startswith("Scan ")],
        "nodes": nodes,
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schema_columns(df),
        "whole_stage_codegen": uses_whole_stage_codegen(df) if execute_for_codegen else None,
        "broadcast_joins": sum(n.startswith("BroadcastHashJoin") for n in nodes),
        "sort_merge_joins": sum(n.startswith("SortMergeJoin") for n in nodes),
        "shuffles": sum(n == "Exchange" for n in nodes),
    }
