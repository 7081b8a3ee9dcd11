"""Measurement probes the benchmark wraps around the engine, all from outside.

- ``LayerClock`` times calls into the engine's modules by swapping the
  module attributes for timed wrappers.
- ``ProcTree`` reads CPU seconds and resident memory of this process and
  all its descendants (the JVM, Python workers) from ``/proc``.
- ``scan_metrics``, ``catalyst_phases`` and ``EventLog`` read the executed
  plan, Catalyst's phase tracker and Spark's JSON event log for traced runs.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "datafusion_datasource_orc_spark"


class LayerClock:
    """Seconds spent inside wrapped engine functions, per metric name.

    A call nested inside another call of the same metric is not counted
    twice."""

    def __init__(self) -> None:
        self.secs: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)

    def wrap(self, module, attr: str, metric: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            self._depth[metric] += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._depth[metric] -= 1
                if not self._depth[metric]:
                    self.secs[metric] += time.perf_counter() - t0

        # rebind every module-level reference, including `from x import f`
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and (
                getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, timed)

    def snapshot(self) -> dict[str, float]:
        return dict(self.secs)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces and parentheses; fields resume after the last ')'
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """CPU and memory of a process tree, read from ``/proc``.

    CPU counts each live process's own time plus the time of the children
    it has reaped (``cutime``/``cstime``), so Python workers that already
    exited stay counted. A sampler thread keeps the peak of the tree's
    summed resident memory."""

    _TICK = os.sysconf("SC_CLK_TCK")
    _PAGE = os.sysconf("SC_PAGE_SIZE")
    _SAMPLE_SECS = 0.2

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_rss = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, list[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields:
                    stats[int(name)] = fields
        children = defaultdict(list)
        for pid, fields in stats.items():
            children[int(fields[2])].append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(children[pid])
        return tree

    @classmethod
    def _cpu(cls, fields: list[str]) -> float:
        # fields[0] is comm, so utime..cstime (stat fields 14-17) are 12..15
        return sum(int(v) for v in fields[12:16]) / cls._TICK

    def cpu(self) -> tuple[float, float]:
        """(whole-tree CPU seconds, CPU seconds of Python processes started
        by the JVM, i.e. PySpark daemon and workers)."""
        tree = self._tree()
        total = sum(self._cpu(f) for f in tree.values())
        jvms = {p for p, f in tree.items() if f[0] == "java"}
        workers = 0.0
        for pid, fields in tree.items():
            if fields[0].startswith("python") and int(fields[2]) in jvms:
                # the daemon's reaped-children time covers exited workers
                workers += self._cpu(fields) + sum(
                    self._cpu(f) for p, f in tree.items() if int(f[2]) == pid
                )
        return total, workers

    def _sample_rss(self) -> None:
        """Update the peak, and the resident bytes per command name at it."""
        by_comm: dict[str, int] = defaultdict(int)
        tree = self._tree()
        for fields in tree.values():
            # A child between clone(CLONE_VM) and exec, as the JVM starts a
            # shell, shares its parent's memory and reports the parent's
            # size and resident pages (stat fields 23 and 24): count them once.
            parent = tree.get(int(fields[2]))
            if parent is not None and parent[21:23] == fields[21:23]:
                continue
            by_comm[fields[0]] += int(fields[22]) * self._PAGE
        total = sum(by_comm.values())
        if total > self.peak_rss:
            self.peak_rss, self.peak_by_comm = total, dict(by_comm)

    def _sample(self) -> None:
        while not self._stop.wait(self._SAMPLE_SECS):
            self._sample_rss()

    def start(self) -> None:
        self._sample_rss()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)

    def descendants(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]


# ---------------------------------------------------------------- traced mode


def _children(node) -> list:
    """Children of a physical plan node, looking through AQE query stages
    (whose subtree hides behind ``plan()``) and subqueries."""
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


def scan_metrics(qe) -> list[dict]:
    """One dict per file scan in the executed plan: rows output, files,
    bytes, pushed filters and the scanned root paths."""
    scans, seen, todo = [], set(), [qe.executedPlan()]
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        todo.extend(_children(node))
        if node.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        pushed = node.metadata().get("PushedFilters")
        pushed = pushed.get() if pushed.isDefined() else "[]"
        roots = node.relation().location().rootPaths()
        scans.append(
            {
                "rows": int(metrics.get("numOutputRows", 0)),
                "files": int(metrics.get("numFiles", 0)),
                "bytes": int(metrics.get("filesSize", 0)),
                "pushed": pushed not in ("[]", ""),
                "roots": [roots.apply(i).toUri().getPath() for i in range(roots.size())],
            }
        )
    return scans


def catalyst_phases(qe) -> dict[str, float]:
    """Milliseconds per Catalyst phase (analysis, optimization, planning)."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def table_rows(path: str, cache: dict[str, int]) -> int:
    """Row count of an ORC or parquet directory or file, from footers."""
    if path not in cache:
        import pyarrow.dataset as ds

        fmt = "parquet" if path.endswith(".parquet") else "orc"
        try:
            cache[path] = ds.dataset(path, format=fmt).count_rows()
        except (OSError, ValueError):  # pyarrow cannot read this layout
            cache[path] = 0
    return cache[path]


class EventLog:
    """Task and job facts per job group, parsed from an uncompressed Spark
    event log with the stdlib ``json`` module."""

    def __init__(self, log_dir: str) -> None:
        self.groups: dict[str, dict] = defaultdict(
            lambda: defaultdict(float, {"stages": set()})
        )
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        for path in self._files(log_dir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group is None:
                            continue
                        job_group[ev["Job ID"]] = group
                        g = self.groups[group]
                        g["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                        g = self.groups[job_group[ev["Job ID"]]]
                        g["last_job_end"] = max(g["last_job_end"], ev["Completion Time"] / 1000)
                    elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                        g = self.groups[stage_group[ev["Stage ID"]]]
                        g["stages"].add(ev["Stage ID"])
                        g["tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        rd = m.get("Shuffle Read Metrics") or {}
                        g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                            "Local Bytes Read", 0
                        )
                        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )

    @staticmethod
    def _files(log_dir: str) -> list[str]:
        """Event files in write order. Spark 4 writes ``eventlog_v2_<app>/``
        holding ``events_<n>_<app>`` parts, an empty status marker and
        hidden checksum files."""
        parts = []
        for d, _, files in os.walk(log_dir):
            for name in files:
                if name.startswith("events_"):
                    parts.append((int(name.split("_")[1]), os.path.join(d, name)))
                elif not name.startswith(("appstatus_", ".")):
                    parts.append((0, os.path.join(d, name)))
        return [p for _, p in sorted(parts)]

    def group(self, name: str) -> dict:
        g = self.groups.get(name)
        if g is None:
            return {"jobs": 0, "stages": 0, "tasks": 0}
        return {**g, "stages": len(g["stages"])}
