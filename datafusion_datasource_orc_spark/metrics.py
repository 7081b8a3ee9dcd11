"""Scan & query metrics — the OrcFileMetrics surface (src/metrics.rs:57-217)
re-expressed with Spark primitives.

The reference tracks per-file counters (bytes_scanned, rows_decoded,
batches_produced, stripes pruned/matched, decode_time) and a derived
``scan_efficiency = bytes_scanned / file_size``. Spark aggregates metrics per
scan (not per file); the equivalents:

- row/value counters on any DataFrame edge → ``Observation`` (df.observe):
  zero-cost accumulators evaluated inside the job, no extra pass.
- bytes/files read, time → SparkContext status APIs + the SQL UI metrics.
- per-file row counts/sizes (Precision::Exact, src/metadata.rs:64-86) →
  sources.metadata footer reads.

``ScanMetrics.observe`` + ``collect`` gives the reference's A14 numbers for a
query; ``scan_efficiency`` uses observed row volume vs footer totals.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class QueryMetrics:
    """One query execution's metrics record, shaped like the reference's
    per-query JSON (src/bin/tpcds_bench.rs:160-175: elapsed + row_count)."""

    name: str
    elapsed_sec: float
    row_count: int
    observed: dict = field(default_factory=dict)


class ScanMetrics:
    """Attach observation points to a DataFrame and run it.

    Usage::

        sm = ScanMetrics()
        df = sm.observe(df, rows=True, bytes_col="payload")
        result = sm.run("myquery", df)   # QueryMetrics
    """

    def __init__(self) -> None:
        self._observations: list[tuple[str, Observation]] = []

    def observe(self, df: DataFrame, name: str = "scan", bytes_col: str | None = None) -> DataFrame:
        if any(n == name for n, _ in self._observations):
            # a silent overwrite in run()'s dict would hide the first point
            raise ValueError(f"observation name {name!r} already registered")
        obs = Observation(name)
        aggs = [F.count(F.lit(1)).alias("rows_decoded")]
        if bytes_col is not None:
            aggs.append(F.sum(F.octet_length(F.col(bytes_col))).alias("bytes_scanned"))
        self._observations.append((name, obs))
        return df.observe(obs, *aggs)

    @staticmethod
    def _get_nonblocking(obs: Observation) -> dict:
        """Observation.get WAITS for the observed dataset's first action —
        an observation whose DataFrame never ran (attached but unused)
        would deadlock run(). Read the JVM side's getRowOrEmpty instead:
        empty dict when the point hasn't fired, never a block."""
        jo = getattr(obs, "_jo", None)
        if jo is None:  # never attached via df.observe
            return {}
        opt = jo.getRowOrEmpty()
        if opt.isEmpty():
            return {}
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        row = CPickleSerializer().loads(utils.toPyRow(opt.get()))
        return row.asDict(recursive=False)

    def run(self, name: str, df: DataFrame) -> QueryMetrics:
        t0 = time.perf_counter()
        row_count = df.count()
        elapsed = time.perf_counter() - t0
        observed = {}
        for oname, obs in self._observations:
            try:
                observed[oname] = self._get_nonblocking(obs)
            except Exception:
                observed[oname] = {}
        # one logical pipeline per run: a fired observation's value never
        # changes (first action only), so carrying it into the next run()
        # would just report stale points under the same names
        self._observations = []
        return QueryMetrics(name=name, elapsed_sec=elapsed, row_count=row_count, observed=observed)


def per_file_row_counts(df: DataFrame) -> dict[str, int]:
    """Per-file row counts for a file-backed DataFrame — the reference labels
    every metric set by filename (OrcFileMetrics::new(partition, filename),
    src/metrics.rs:128-201); Spark aggregates per scan, so we recover the
    per-file axis with input_file_name(). One extra aggregation job; use on
    scans, not post-shuffle plans (input_file_name is empty there)."""
    rows = (
        df.groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    return {r.file: r["count"] for r in rows if r.file}


def _plan_children(node) -> list:
    """Children of a physical plan node, looking through the nodes AQE
    hides a subtree behind: ``AdaptiveSparkPlanExec`` (the final plan),
    ``*QueryStageExec`` (a leaf whose stage sits in ``plan()``) and
    ``ReusedExchangeExec``. Subqueries count as children."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    out = []
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            out.append(it.next())
    return out


def _plan_nodes(plan) -> list:
    """Every node under ``plan`` once, in pre-order, left to right, seen
    through AQE (``_plan_children``): a reused exchange leads back to the
    subtree it reuses, which is not listed twice."""
    nodes, seen, todo = [], set(), [plan]
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        nodes.append(node)
        todo.extend(reversed(_plan_children(node)))
    return nodes


def _plan_leaves(plan) -> list:
    """Leaf nodes under ``plan``, left to right, each once."""
    return [n for n in _plan_nodes(plan) if not _plan_children(n)]


def scan_sql_metrics(df: DataFrame) -> list[dict]:
    """Per-scan SQL metrics from the df's LAST execution — the A14 counters
    Spark does expose (the reference's stripes_pruned / io_requests have no
    Spark equivalent; what the SQL metrics store gives per scan node is
    ``numOutputRows`` — rows the reader actually DECODED after pushed-filter
    stripe/row-group skipping — plus ``numFiles``/``filesSize``/
    ``metadataTime`` on file scans, src/metrics.rs:57-118 parity axis).

    Execute an action on ``df`` first (e.g. ``collect``); metrics accumulate
    on that DataFrame's query execution. The walk looks through AQE's query
    stages, so a scan below an exchange is found. Returns one dict per leaf
    node: ``{"node": ..., "metrics": {name: value}}``; [] if the JVM surface
    is unavailable."""
    out: list[dict] = []
    try:
        for node in _plan_leaves(df._jdf.queryExecution().executedPlan()):
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append({"node": node.nodeName(), "metrics": metrics})
    except Exception:
        return []
    return out


def scan_efficiency(bytes_scanned: int, file_size: int) -> float | None:
    """Derived ratio, reference src/metrics.rs:203-217 (None when file_size
    is unknown/zero, same contract)."""
    if not file_size:
        return None
    return bytes_scanned / file_size
