"""Layer-by-layer benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --record
    python3 perfbench/layerdiff.py A B

One client runs a closed loop on ``local[nproc]``: each pass runs the
workload's fixed op list once, in an order shuffled by ``--seed``, and every
op's collected rows are checked against the digest recorded in
``expected.json``. Set-up (engine import, session start and one untimed
warm-up pass, in which ops write their ORC layouts and register their views
on first use) is timed once, because a process starts its JVM once. Then
passes repeat until ``--seconds`` have elapsed and ``MIN_PASSES`` have run,
and the end-to-end figures are medians over them. Passes keep getting faster
for many passes as the JVM compiles, so runs compare only when they measure
the same number of passes: ``--seconds 12`` gives two on both workloads on a
4-vCPU VM. No pass starts that would end after ``RUN_BUDGET_S``, so a host
slow enough measures fewer. The ingest op writes the same slice, chosen by
``--seed``, in every pass of a run.

Wall times in the end-to-end metrics are net of steal: each is scaled by the
share of the CPU time the machine's virtual CPUs wanted over that interval
that the hypervisor gave to other guests, read from ``/proc/stat`` (over
set-up for ``setup_s``, per pass for ``pass_s``, per op for
``query_geomean_s``), as ``STEAL_COST`` describes. Without steal the factor
is 1. On the 4-vCPU VM this was built on, steal took 1-32% of that time,
changed within a minute and slowed passes by up to 70%. The raw pass time and
the stolen share are the per-layer metrics ``host.pass_wall_s`` and
``host.stolen_share``, and every raw time is in the run record.

Each op is timed in three phases, from outside the engine:

- build: ``QUERIES[name](spark, sf_dir)``, plan construction in
  ``operators``, including any eager jobs it starts;
- plan: forcing ``queryExecution().executedPlan()``, which is Catalyst;
- collect: ``df.collect()``, execution plus result fetch.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. ``--trace 1`` also labels every op,
pass and phase as a Spark job group and reads task metrics from an
uncompressed event log. A full record of the run (context, per-op results,
layer metrics, spans) goes to ``perfbench/results/``, which
``layerdiff.py`` compares.

``--smoke`` runs one pass of every workload at sf0.001 and exits non-zero if
any result is wrong. ``--record`` rewrites ``expected.json`` from the
current tree after checking every op against its DuckDB oracle.

Everything the run writes stays under the checkout: data, Spark scratch and
temporary files go to ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datafusion_datasource_orc_spark"
SF = 0.01
SMOKE_SF = 0.001
# A fixed driver heap: the JVM grows its heap toward -Xmx at a pace set by
# GC timing, so an 8 GB ceiling makes peak memory wander by a gigabyte
# between identical runs; 2 GB is ample for sf0.01.
DRIVER_MEMORY = "2g"
# A run measures at least MIN_PASSES passes, and none starts that would, at
# the length of the last one, end after the run has lasted RUN_BUDGET_S from
# the benchmark's start: a slow host costs a run passes, not overrun time.
MIN_PASSES = 2
RUN_BUDGET_S = 70
# A wall time that ran while the hypervisor stole a share s of the CPU time
# the machine's virtual CPUs wanted is taken as T / (1 - s) ** STEAL_COST of
# the time T it takes without steal. An exponent of 1 would count only the
# stolen time itself; threads that wait for a stolen one (task stragglers,
# JVM safepoints, the Python driver waiting on the JVM) stall as well. Over
# five sets of 4-10 runs of one workload each, on a 4-vCPU VM whose steal ran
# from 1% to 32%, the spread of pass_s and query_geomean_s between runs of the
# same code was least at 1.5: 0.05-0.10 of the median, against 0.06-0.18 at 1
# and 0.08-0.50 for raw wall time.
STEAL_COST = 1.5

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.orc_dir_for_s": "s",
    "sources.layout_write_s": "s",
    "operators.tpcds_views_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "execution.collect_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.executor_cpu_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_read_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "execution.cached_bytes": "bytes",
    "result.rows": "count",
    "result.fetch_s": "s",
    "scan.output_rows": "count",
    "scan.files": "count",
    "scan.bytes": "bytes",
    "scan.selectivity": "ratio",
    "plans.pushed_filter_ops": "count",
    "sources.footer_read_s": "s",
    "sources.write_orc_s": "s",
    "sources.compact_orc_s": "s",
    "sources.write_mb_s": "MB/s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "functions.python_worker_cpu_s": "s",
    "process.cpu_s": "s",
    "trace.overhead_s": "s",
    "host.pass_wall_s": "s",
    "host.stolen_share": "ratio",
}
# engine calls timed by wrapping: (module, attribute, metric)
LAYER_CALLS = [
    ("session", "get_spark", "session.get_spark_s"),
    ("sources.tables", "orc_dir_for", "sources.orc_dir_for_s"),
    ("sources.tables", "orc_chunked_dir_for", "sources.layout_write_s"),
    ("sources.tables", "orc_bloom_dir_for", "sources.layout_write_s"),
    ("sources.tables", "orc_encoding_dir_for", "sources.layout_write_s"),
    ("operators.tpcds", "_register_tpcds_views", "operators.tpcds_views_s"),
    ("sources.orc", "write_orc", "sources.write_orc_s"),
    ("sources.orc", "compact_orc", "sources.compact_orc_s"),
    ("sources.metadata", "directory_statistics", "sources.footer_read_s"),
    ("sources.metadata", "read_orc_statistics", "sources.footer_read_s"),
    ("sources.metadata", "infer_merged_schema", "sources.footer_read_s"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(HERE, "results"))
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--record", action="store_true")
    args = p.parse_args(argv)
    if not (args.smoke or args.record or args.workload):
        p.error("--workload is required")
    return args


def _median(values):
    return statistics.median(values) if values else 0.0


def _host_cpu() -> list[int]:
    """The machine's CPU time counters, in ticks, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine's virtual CPUs wanted between two
    ``_host_cpu`` readings that the hypervisor gave to other guests: steal
    over user, nice, system, irq, softirq and steal time."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def net_of_steal(seconds: float, stolen_share: float) -> float:
    """A wall time as it would have been had the hypervisor stolen nothing:
    see STEAL_COST."""
    return seconds * (1.0 - stolen_share) ** STEAL_COST


def _git_head() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:  # not a git checkout
        return None


def _java_version() -> str | None:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return next((line for line in out.stderr.splitlines() if " version " in line), None)


def run_context(args, sf) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "seed": args.seed,
        "sf": sf,
        "git_head": _git_head(),
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
    }


def prepare_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and let Python workers
    import the engine from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # every JVM, the Spark launcher's included: temp files under `work`, no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    for path in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if path not in sys.path:
            sys.path.insert(0, path)


def load_expected() -> dict:
    try:
        with open(os.path.join(HERE, "expected.json")) as f:
            return json.load(f)
    except FileNotFoundError:  # before the first --record
        return {}


class Bench:
    """One session running one workload's ops; collects timings, checks
    and layer facts."""

    def __init__(self, args, sf: float, work: str, trace: bool) -> None:
        from probes import LayerClock, ProcTree
        from workloads import INGEST, Ingest

        self.args = args
        self.sf = sf
        self.work = work
        self.trace = trace
        self.sf_dir = os.path.join(work, f"sf{sf:g}")
        self.clock = LayerClock()
        self.proc = ProcTree()
        self.expected = load_expected().get(f"{sf:g}", {})
        self.ingest = Ingest(self.sf_dir, work, self.expected.get(INGEST))
        self.spans: list[dict] = []
        self.errors: list[str] = []
        self.verified: dict[str, Counter] = {}
        self.spark = None
        self.queries = None

    # ------------------------------------------------------------------ setup

    def start(self) -> None:
        """Import the engine, wrap its layer calls, start the session."""
        import importlib

        importlib.import_module(f"{PACKAGE}.operators")
        for mod, attr, metric in LAYER_CALLS:
            self.clock.wrap(importlib.import_module(f"{PACKAGE}.{mod}"), attr, metric)
        from datafusion_datasource_orc_spark import session
        from datafusion_datasource_orc_spark.operators import QUERIES

        self.queries = QUERIES
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{os.cpu_count()}]",
            extra_conf=conf,
        )
        self.proc.start()

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers."""
        from pyspark import SparkContext

        self.proc.stop()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while self.proc.descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in self.proc.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # ------------------------------------------------------------------ ops

    def span(self, name: str, parent: str | None, t0: float, t1: float) -> None:
        if self.trace:
            self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})

    def run_op(self, name: str, label: str, k: int, traced: bool) -> dict:
        from check_oracles import value_hash
        from workloads import INGEST

        sc = self.spark.sparkContext
        group = f"{label}:{name}"
        rec: dict = {"op": name}
        try:
            if traced:
                sc.setJobGroup(f"{group}:build", group)
            host0 = _host_cpu()
            t0 = time.perf_counter()
            if name == INGEST:
                df, facts = self.ingest.build(self.spark, k)
                rec["ingest"] = facts
            else:
                df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{group}:plan", group)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{group}:collect", group)
            rows = df.collect()
            t3 = time.perf_counter()
            host3 = _host_cpu()
            rec["collect_end_wall"] = time.time()
            if traced:
                sc.setJobGroup(f"{label}:bench", "benchmark bookkeeping")
        except Exception as exc:  # an op failure is recorded; the run goes on
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
            return rec
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, collect_s=t3 - t2, latency_s=t3 - t0)
        rec["stolen_share"] = _stolen_share(host0, host3)
        rec["rows"] = len(rows)
        self.span(f"{group}:build", group, t0, t1)
        self.span(f"{group}:plan", group, t1, t2)
        self.span(f"{group}:collect", group, t2, t3)
        self.span(group, label, t0, t3)

        c_wall, c_cpu = time.perf_counter(), time.process_time()
        problem = None
        if name == INGEST:
            want_rows, want_digest, src_bytes = self.ingest.expected(k)
            rec["ingest"]["source_parquet_bytes"] = src_bytes
            if rec["ingest"]["footer_rows"] != want_rows:
                problem = f"footer rows {rec['ingest']['footer_rows']} != {want_rows}"
        elif name in self.expected:
            want_rows, want_digest = self.expected[name]["rows"], self.expected[name]["digest"]
        else:
            problem = "no expected digest recorded"
        if problem is None and not self.seen_before(name, rows):
            if (
                len(rows) != want_rows
                or value_hash([tuple(r) for r in rows], df.columns) != want_digest
            ):
                problem = f"result mismatch: {len(rows)} rows, {want_rows} expected"
            else:
                self.remember(name, rows)
        if problem:
            rec.update(error=problem, mismatch=True)
        rec["check_s"] = time.perf_counter() - c_wall
        rec["check_cpu_s"] = time.process_time() - c_cpu
        if traced:
            from probes import catalyst_phases, scan_metrics

            rec["catalyst_ms"] = catalyst_phases(qe)
            rec["scans"] = scan_metrics(qe)
        return rec

    # A result equal, as a multiset of rows, to one of the same op that
    # already passed its digest check needs no second digest: value_hash
    # normalises every cell in Python, and an op's result is the same every
    # pass. Anything else, an unhashable cell included, is hashed again.
    def seen_before(self, name: str, rows) -> bool:
        try:
            return self.verified.get(name) == Counter(map(tuple, rows))
        except TypeError:
            return False

    def remember(self, name: str, rows) -> None:
        try:
            self.verified[name] = Counter(map(tuple, rows))
        except TypeError:
            pass

    def run_pass(self, ops: list[str], idx: int, label: str, traced: bool) -> dict:
        from workloads import INGEST_SLICES

        ops = list(ops)
        random.Random(f"{self.args.seed}:{idx}").shuffle(ops)
        k = self.args.seed % INGEST_SLICES
        cpu0, workers0 = self.proc.cpu()
        host0 = _host_cpu()
        layer0 = self.clock.snapshot()
        t0 = time.perf_counter()
        recs = [self.run_op(name, label, k, traced) for name in ops]
        t1 = time.perf_counter()
        host1 = _host_cpu()
        cpu1, workers1 = self.proc.cpu()
        check_s = sum(r.get("check_s", 0.0) for r in recs)
        check_cpu = sum(r.get("check_cpu_s", 0.0) for r in recs)
        layer1 = self.clock.snapshot()
        for r in recs:
            if "error" in r:
                self.errors.append(f"{label} {r['op']}: {r['error']}")
                print(f"# FAILED {label} {r['op']}: {r['error']}", file=sys.stderr)
        self.span(label, None, t0, t1)
        return {
            "label": label,
            "traced": traced,
            "order": ops,
            "pass_s": t1 - t0 - check_s,
            "wall_s": t1 - t0,
            "cpu_s": cpu1 - cpu0 - check_cpu,
            "python_worker_cpu_s": workers1 - workers0,
            "layer_s": {m: layer1.get(m, 0.0) - layer0.get(m, 0.0) for m in layer1},
            "cached_bytes": self._cached_bytes(),
            "stolen_share": _stolen_share(host0, host1),
            "ops": recs,
        }

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# ---------------------------------------------------------------- summaries


def net_pass_s(p: dict) -> float:
    return net_of_steal(p["pass_s"], p["stolen_share"])


def end_to_end(setup: dict, passes: list[dict], peak_rss: int) -> dict:
    latencies: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            if "latency_s" in r:
                latencies.setdefault(r["op"], []).append(
                    net_of_steal(r["latency_s"], r["stolen_share"])
                )
    per_op = [_median(v) for v in latencies.values()]
    ingest = [r["ingest"] for p in passes for r in p["ops"] if "ingest" in r and "latency_s" in r]
    return {
        "setup_s": net_of_steal(setup["wall_s"], setup["stolen_share"]),
        "pass_s": _median([net_pass_s(p) for p in passes]),
        "query_geomean_s": math.exp(sum(map(math.log, per_op)) / len(per_op)) if per_op else 0.0,
        "peak_rss_mb": peak_rss / 1e6,
        "stored_bytes_ratio": _median(
            [i["stored_bytes"] / i["source_parquet_bytes"] for i in ingest if "source_parquet_bytes" in i]
        ),
    }


def pass_layers(p: dict) -> dict:
    """Layer metrics of one pass that need no event log."""
    ok = [r for r in p["ops"] if "latency_s" in r]
    ingest = [r["ingest"] for r in ok if "ingest" in r]
    return {
        "operators.build_s": sum(r["build_s"] for r in ok),
        "catalyst.plan_s": sum(r["plan_s"] for r in ok),
        "execution.collect_s": sum(r["collect_s"] for r in ok),
        "execution.cached_bytes": p["cached_bytes"],
        "result.rows": sum(r["rows"] for r in ok),
        "sources.footer_read_s": p["layer_s"].get("sources.footer_read_s", 0.0),
        "sources.write_orc_s": p["layer_s"].get("sources.write_orc_s", 0.0),
        "sources.compact_orc_s": p["layer_s"].get("sources.compact_orc_s", 0.0),
        "sources.write_mb_s": _median([i["bytes_written"] / 1e6 / i["write_s"] for i in ingest]),
        "sources.files_written": sum(i["files_written"] for i in ingest),
        "sources.bytes_written": sum(i["bytes_written"] for i in ingest),
        "functions.python_worker_cpu_s": p["python_worker_cpu_s"],
        "process.cpu_s": p["cpu_s"],
        "host.pass_wall_s": p["pass_s"],
        "host.stolen_share": p["stolen_share"],
    }


def traced_layers(p: dict, log, row_cache: dict) -> dict:
    """Layer metrics of one traced pass from the event log, the executed
    plans and Catalyst's tracker."""
    from probes import table_rows

    out = dict.fromkeys(
        [
            "operators.build_jobs",
            "catalyst.analysis_ms",
            "catalyst.optimization_ms",
            "catalyst.planning_ms",
            "execution.jobs",
            "execution.stages",
            "execution.tasks",
            "execution.executor_cpu_s",
            "execution.gc_s",
            "execution.shuffle_read_bytes",
            "execution.shuffle_write_bytes",
            "execution.spill_bytes",
            "result.fetch_s",
            "scan.output_rows",
            "scan.files",
            "scan.bytes",
            "plans.pushed_filter_ops",
        ],
        0,
    )
    table_total = 0
    for r in p["ops"]:
        if "latency_s" not in r:
            continue
        group = f"{p['label']}:{r['op']}"
        out["operators.build_jobs"] += log.group(f"{group}:build")["jobs"]
        run = log.group(f"{group}:collect")
        for key in (
            "jobs",
            "stages",
            "tasks",
            "executor_cpu_s",
            "gc_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        ):
            out[f"execution.{key}"] += run.get(key, 0)
        if run.get("last_job_end"):
            out["result.fetch_s"] += max(0.0, r["collect_end_wall"] - run["last_job_end"])
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] += r["catalyst_ms"].get(phase, 0.0)
        out["plans.pushed_filter_ops"] += any(s["pushed"] for s in r["scans"])
        for s in r["scans"]:
            out["scan.output_rows"] += s["rows"]
            out["scan.files"] += s["files"]
            out["scan.bytes"] += s["bytes"]
            table_total += sum(table_rows(root, row_cache) for root in s["roots"])
    out["scan.selectivity"] = out["scan.output_rows"] / table_total if table_total else 0.0
    return out


# ---------------------------------------------------------------- drivers


def run_workload(args, work: str) -> tuple[dict, dict]:
    import datagen
    from workloads import WORKLOADS

    bench = Bench(args, SF, work, bool(args.trace))
    ops = WORKLOADS[args.workload]
    datagen.write(SF, bench.sf_dir)
    record = {"context": run_context(args, SF)}
    try:
        host0 = _host_cpu()
        t0 = time.perf_counter()
        bench.start()
        warm = bench.run_pass(ops, 0, "warmup", traced=False)
        setup = {
            "wall_s": time.perf_counter() - t0 - sum(r.get("check_s", 0.0) for r in warm["ops"]),
            "stolen_share": _stolen_share(host0, _host_cpu()),
        }
        setup_layers = bench.clock.snapshot()

        passes = []
        t_measure = time.perf_counter()
        # A traced run alternates passes without and with per-op tracing,
        # starting and ending untraced, so the tracing overhead is measured
        # in one session with the passes' drift averaged out.
        while (
            not passes
            or (args.trace and (len(passes) < 3 or passes[-1]["traced"]))
            or (
                (len(passes) < MIN_PASSES or time.perf_counter() - t_measure < args.seconds)
                and time.perf_counter() - T_START + passes[-1]["wall_s"] < RUN_BUDGET_S
            )
        ):
            idx = len(passes) + 1
            traced = bool(args.trace) and idx % 2 == 0
            passes.append(bench.run_pass(ops, idx, f"p{idx}", traced))
        bench.proc.stop()
        peak_rss = bench.proc.peak_rss
    finally:
        bench.stop()

    measured = [p for p in passes if p["traced"] == bool(args.trace)]
    e2e = end_to_end(setup, measured, peak_rss)
    layers = {
        "session.get_spark_s": setup_layers.get("session.get_spark_s", 0.0),
        "sources.orc_dir_for_s": setup_layers.get("sources.orc_dir_for_s", 0.0),
        "sources.layout_write_s": setup_layers.get("sources.layout_write_s", 0.0),
        "operators.tpcds_views_s": setup_layers.get("operators.tpcds_views_s", 0.0),
    }
    per_pass = [pass_layers(p) for p in measured]
    if args.trace:
        from probes import EventLog

        log = EventLog(os.path.join(work, "eventlog"))
        cache: dict[str, int] = {}
        for row, p in zip(per_pass, measured):
            row.update(traced_layers(p, log, cache))
        # Job groups, plan walks and Catalyst reads only: the event log is on
        # for every pass of this session. layerdiff.py reports the whole cost
        # as the traced runs' pass_s minus the untraced runs' pass_s.
        untraced = [net_pass_s(p) for p in passes if not p["traced"]]
        per_pass[0]["trace.overhead_s"] = e2e["pass_s"] - _median(untraced)
    for key in per_pass[0]:
        layers[key] = _median([row[key] for row in per_pass if key in row])

    attempted = sum(len(p["ops"]) for p in [warm, *passes])
    failed = len(bench.errors)
    record.update(
        {
            "setup": setup,
            "peak_rss_by_comm": bench.proc.peak_by_comm,
            "end_to_end": e2e,
            "layers": layers,
            "attempted": attempted,
            "failed": failed,
            "failed_frac": failed / attempted,
            "correct": not any(r.get("mismatch") for p in [warm, *passes] for r in p["ops"]),
            "errors": bench.errors,
            "passes": [warm, *passes],
            "spans": bench.spans,
        }
    )
    record["context"]["loadavg_end"] = os.getloadavg()
    record["context"]["wall_s"] = time.perf_counter() - T_START
    return record, (layers if args.trace else e2e)


def run_smoke(args, work: str) -> int:
    """One pass of every workload at sf0.001 in one session."""
    import datagen
    from workloads import WORKLOADS

    bench = Bench(args, SMOKE_SF, work, trace=False)
    datagen.write(SMOKE_SF, bench.sf_dir)
    bad = 0
    try:
        bench.start()
        for name, ops in WORKLOADS.items():
            p = bench.run_pass(ops, 1, name, traced=False)
            bad += sum("error" in r for r in p["ops"])
            print(f"# smoke {name}: {len(ops)} ops, pass {p['pass_s']:.2f}s", file=sys.stderr)
    finally:
        bench.stop()
    print(json.dumps({"smoke": "ok" if not bad else "failed", "failed": bad}))
    return 1 if bad else 0


def run_record(args, work: str) -> int:
    """Rewrite expected.json: each op's collected-row digest at both scales,
    accepted only when the Spark result matches its DuckDB oracle, and the
    row count and digest of each ingest slice."""
    import datagen
    import duckdb
    from check_oracles import value_hash

    import __spark_entry__
    from workloads import INGEST, INGEST_SLICES, WORKLOADS, Ingest

    oracles = __spark_entry__.oracle_sql()
    names = sorted({n for ops in WORKLOADS.values() for n in ops if n != INGEST})
    expected, bad = {}, []
    bench = Bench(args, SF, work, trace=False)
    try:
        bench.start()
        for sf in (SMOKE_SF, SF):
            sf_dir = os.path.join(work, f"sf{sf:g}")
            datagen.write(sf, sf_dir)
            con = duckdb.connect()
            for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            rows_by_op = {}
            for name in names:
                df = bench.queries[name](bench.spark, sf_dir)
                rows = df.collect()
                pdf = df.toPandas()
                spark_hash = value_hash(list(pdf.itertuples(index=False, name=None)), list(pdf.columns))
                odf = con.execute(oracles[name]).df()
                oracle_hash = value_hash(list(odf.itertuples(index=False, name=None)), list(odf.columns))
                ok = spark_hash == oracle_hash and len(pdf) == len(odf)
                print(f"{'ok  ' if ok else 'FAIL'} sf{sf:g} {name} rows={len(rows)}", file=sys.stderr)
                if not ok:
                    bad.append(f"sf{sf:g} {name}")
                rows_by_op[name] = {
                    "rows": len(rows),
                    "digest": value_hash([tuple(r) for r in rows], df.columns),
                }
            # the ingest op's expected rows: each slice of the parquet source
            ingest = Ingest(sf_dir, work)
            rows_by_op[INGEST] = {}
            for k in range(INGEST_SLICES):
                n, digest, _ = ingest.expected(k)
                rows_by_op[INGEST][str(k)] = {"rows": n, "digest": digest}
            expected[f"{sf:g}"] = rows_by_op
            con.close()
    finally:
        bench.stop()
    if bad:
        print(f"oracle mismatch, expected.json not written: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    prepare_env(work)
    try:
        if args.smoke:
            return run_smoke(args, work)
        if args.record:
            return run_record(args, work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        record, metrics = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(args.out, exist_ok=True)
    out = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    units = PER_LAYER if args.trace else END_TO_END
    print(
        json.dumps(
            {
                "correct": record["correct"],
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
