"""Benchmark harness — the tpcds_bench.rs equivalent (SURVEY.md §2A-A21).

    python bench.py [QUERY ...]

Runs the named registry queries (default: the 75 HEADLINE queries) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata) on local[$SPARK_GRAFT_CPUS],
$BENCH_ITERATIONS times each (default 3, the reference's default,
src/bin/tpcds_bench.rs:277-279; we report best-of to factor out JIT/session
warmup like criterion's sampling does), and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...}

Each query's time is its best iteration net of hypervisor steal (`best_of`),
and `drift` is the whole run's steal factor, 1.0 when nothing was stolen.
`vs_prev` compares the run with the newest committed BENCH_r*.json at the
same scale factor, core count and `host` (`compare`), and is {} when there
is none; `host` is a short hash of the machine (`host_fingerprint`).

An unknown query name exits non-zero before anything runs. A subset runs
through the same path as the full set.

Query timing = full execution to collect() (driver-side materialization,
matching the reference's collect at src/bin/tpcds_bench.rs:543-574). Each
iteration runs as Spark job group "<query>#<iteration>". A query that raises
is recorded and skipped, and the run goes on (src/bin/tpcds_bench.rs:459-476):
it is left out of `queries`, `value` and `n_queries`, printed to stderr, and
listed under `failures` in bench_detail.json.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import re
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# best-of-N absorbs the shared-host load spikes observed on this box (same
# query: 3.6s-90s wall clock under external load). It absorbed codegen
# warm-up only in part: under Spark's default 100-entry class cache, each
# warm iteration of HEADLINE at sf0.01 recompiled 477-504 classes (2,533 in
# iteration 0). get_spark sizes the cache to the working set, and a warm
# iteration compiles 102 (1,769 in iteration 0), all of them in queries whose
# generated code differs between runs (bench_detail.json["codegen_compiles"]).
ITERATIONS = int(os.environ.get("BENCH_ITERATIONS", "3"))

# Wall time net of hypervisor steal, as perfbench nets its end-to-end
# metrics: a query that ran while the hypervisor gave a share s of the CPU
# time this machine's virtual CPUs wanted to other guests is taken to have
# needed T * (1 - s) ** STEAL_COST of its wall time T. The exponent exceeds 1
# because threads that wait on a stolen one (task stragglers, JVM safepoints,
# the Python process waiting on the JVM) stall too; 1.5 gave the least spread
# between runs of the same code on a 4-vCPU VM whose steal ran from 1% to 32%.
STEAL_COST = 1.5


def _host_cpu() -> list[int]:
    """The machine's CPU time counters, in ticks, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_fingerprint() -> str:
    """A short hash of the machine: CPU model, ``os.cpu_count()`` and
    MemTotal. Two machines with the same core count can time the same query
    apart by more than the flag threshold, so a baseline must come from this
    one."""

    def field(path: str, key: str) -> str:
        try:
            with open(path) as f:
                lines = [ln for ln in f if ln.startswith(key)]
        except OSError:
            return ""
        return lines[0].split(":", 1)[1].strip() if lines else ""

    cpu = field("/proc/cpuinfo", "model name")
    mem = field("/proc/meminfo", "MemTotal")
    raw = f"{cpu}|{os.cpu_count()}|{mem}"
    return hashlib.sha256(raw.encode()).hexdigest()[:10]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine's virtual CPUs wanted between two
    ``_host_cpu`` readings that the hypervisor gave to other guests: steal
    over user, nice, system, irq, softirq and steal time."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


# Headline set: the reference's demonstrated core (scan/filter/agg/groupby via
# the ORC path), the join/window/TPC-H/TPC-DS analytical surface, and at least
# one query of each beyond-reference pipeline family. The `_incremental`
# queries time the per-batch path over a materialized index, whose one-time
# build is amortized across iterations like the TPC-DS star materialization.
HEADLINE = [
    "orc_groupby_count",
    "orc_filter_range",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q8",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "tpcds_q1",
    "tpcds_q7",
    "tpcds_q36",
    "tpcds_q59",
    "tpcds_q65",
    "tpcds_q98",
    "tpcds_q14",
    "tpcds_q64",
    "window_rank",
    "window_ntile",
    "rollup_agg",
    "dedup_exact_norm",
    "dedup_minhash_lsh",
    "simsearch_bruteforce",
    "text_token_count",
    "text_repetition",
    "contamination_eval_overlap",
    "pipeline_filter_funnel",
    "training_mix_sample",
    "text_char_entropy",
    "events_session_window",
    "events_zscore_anomaly",
    "asof_join_last_order",
    "basket_part_pairs",
    "multimodal_decode",
    "simsearch_pq",
    "text_ngram_novelty",
    "training_pack_sequences",
    "text_vocab_coverage",
    "ingest_incremental_bloom",
    "orc_column_stats",
    "embedding_power_iteration",
    "multimodal_resize",
    "orc_rowgroup_stats",
    "orc_bloom_prune",
    "text_bigram_commonness",
    "simsearch_ivfpq",
    "embedding_kmeans",
    "pipeline_end_to_end",
    "multimodal_phash_neardup",
    "dedup_containment",
    "events_ewma_smooth",
    "simsearch_ivf_kmeans",
    "approx_countmin_tokens",
    "simsearch_hybrid_rrf",
    "dedup_connected_components_lsh",
    "embedding_semantic_dedup",
    "training_split_leakage",
    "training_curriculum_quantiles",
    "simsearch_mips",
    "ingest_triage",
    "ingest_triage_incremental",
    "simsearch_mips_banded",
    "text_quality_nb",
    "dedup_substring_spans",
    "training_dsir_select",
    "dedup_substring_spans_incremental",
    "simsearch_bm25",
    "tokenizer_bpe_merges",
    "simsearch_hybrid_bm25",
    "tokenizer_bpe_encode",
    "simsearch_recall_at_k",
    "tokenizer_bpe_vocab",
    "curation_manifest",
    "embedding_semdedup_banded",
]


def compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM so far: one per miss of
    Spark's generated-code cache (the count of its compilation-time
    histogram)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def time_queries(spark, names, sf_dir, iters):
    """Time each query in `names` `iters` times to collect().

    Inputs are pre-materialized outside the timed region. Every iteration
    runs as Spark job group ``f"{name}#{i}"``, so the status tracker and the
    event log attribute its jobs to it. A query that raises is recorded as
    ``{"query", "iteration", "error"}`` and dropped, and the next query runs.

    Returns ``(seconds, rows, compiles, stolen, failures)``: per-iteration
    seconds, row counts and generated-code compiles, and the stolen share of
    the CPU over all its iterations (``stolen_share``), for every query that
    finished, keyed by name; and the failures.
    """
    from datafusion_datasource_orc_spark.operators import QUERIES
    from datafusion_datasource_orc_spark.operators.tpcds import _register_tpcds_views
    from datafusion_datasource_orc_spark.sources.tables import orc_dir_for

    # The reference's data-prep step (scripts/convert_tpcds_to_orc.py) is
    # untimed, and it materializes all 24 TPC-DS tables before benchmarking:
    # the first query's cold time measures the query, not one-time writes.
    for t in ("region", "part", "lineitem", "documents"):
        orc_dir_for(spark, sf_dir, t)
    _register_tpcds_views(spark, sf_dir)

    sc = spark.sparkContext
    seconds: dict[str, list[float]] = {}
    rows: dict[str, list[int]] = {}
    compiles: dict[str, list[int]] = {}
    stolen: dict[str, float] = {}
    failures: list[dict[str, object]] = []
    try:
        for name in names:
            times: list[float] = []
            counts: list[int] = []
            classes: list[int] = []
            host0 = _host_cpu()
            try:
                for i in range(iters):
                    sc.setJobGroup(f"{name}#{i}", name)
                    c0 = compile_count(spark)
                    t0 = time.perf_counter()
                    counts.append(len(QUERIES[name](spark, sf_dir).collect()))
                    times.append(round(time.perf_counter() - t0, 4))
                    classes.append(compile_count(spark) - c0)
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"
                failures.append({"query": name, "iteration": i, "error": error})
                print(f"# {name}: FAILED at iteration {i}", file=sys.stderr)
                traceback.print_exc()
                continue
            seconds[name] = times
            rows[name] = counts
            compiles[name] = classes
            stolen[name] = round(stolen_share(host0, _host_cpu()), 4)
            print(
                f"# {name}: {min(times):.3f}s rows={counts[-1]} iters={times}"
                f" stolen={stolen[name]}",
                file=sys.stderr,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return seconds, rows, compiles, stolen, failures


def best_of(seconds, stolen):
    """Each query's best iteration, net of the steal its iterations saw:
    ``min(seconds) * (1 - stolen) ** STEAL_COST``, 3 dp (stdout budget)."""
    return {
        n: round(min(its) * (1.0 - stolen[n]) ** STEAL_COST, 3)
        for n, its in seconds.items()
    }


def _round_no(path: str) -> int:
    """N of ``BENCH_r<N>.json`` or ``BENCH_r<N>_c<M>.json``, as a number, so
    r10 sorts after r9."""
    m = re.search(r"BENCH_r(\d+)(?:_c\d+)?\.json$", path)
    return int(m.group(1)) if m else -1


def compare(results, sf, cpus, host, root) -> dict:
    """Compare per-query seconds with the newest ``BENCH_r*.json`` under
    `root` that ran at the same scale factor and core count on the same
    machine (`host`, from `host_fingerprint`).

    A committed artifact records a run: its top-level ``cpus`` and, under
    ``parsed``, the run's stdout line. One whose line did not parse
    (``"parsed": null``), that has no ``cpus``, ``host`` or ``queries``, or
    that ran at another ``sf``, ``cpus`` or ``host`` is never a baseline:
    data size, core count and the machine move query times without any
    change to the plan. With no baseline the result is ``{}``.

    A query is flagged as a likely plan regression when it is more than 1.5x
    AND more than 0.5 s slower than the baseline: back-to-back runs of the
    same code swing sub-second queries by 1.5-1.8x (+/-0.4 s), so neither
    test alone tells a regression from noise. Host load that the steal
    netting misses moves the geomean of all the ratios, so a real regression
    is a flag that stands out from a steady geomean.

    A query the baseline ran under its print cutoff ``c`` is not in its
    line. Taking ``c`` as its baseline time bounds it from above, so it is
    flagged by the same rule, above ``max(1.5 c, c + 0.5)``; its flag holds
    the ratio to ``c``, and it is left out of ``ratios`` and ``geomean``.
    ``c`` is the line's ``cutoff``, or, on a line from before it recorded
    one, its smallest printed time, which is at least the cutoff. A
    baseline with no query under its cutoff (``n_below_cutoff`` 0) ran none
    of the missing queries, so they are not compared.

    Returns ``{"vs", "n", "geomean", "flagged", "ratios"}``.
    """
    paths = glob.glob(os.path.join(root, "BENCH_r*.json"))
    for path in sorted(paths, key=_round_no, reverse=True):
        with open(path) as f:
            art = json.load(f)
        parsed = art.get("parsed") or {}
        prev = parsed.get("queries")
        if (
            prev
            and art.get("cpus") == cpus
            and str(parsed.get("sf")) == str(sf)
            and parsed.get("host") == host
        ):
            break
    else:
        return {}
    common = sorted(set(prev) & set(results))
    ratios = {n: round(results[n] / prev[n], 3) for n in common if prev[n] > 0}
    flagged = {
        n: r for n, r in ratios.items() if r > 1.5 and results[n] - prev[n] > 0.5
    }
    if parsed.get("n_below_cutoff", 1):
        c = parsed.get("cutoff") or min(prev.values())
        flagged.update(
            (n, round(results[n] / c, 3))
            for n in sorted(set(results) - set(prev))
            if results[n] > max(1.5 * c, c + 0.5)
        )
    return {
        "vs": os.path.basename(path),
        "n": len(common),
        "geomean": (
            round(statistics.geometric_mean(ratios.values()), 3) if ratios else None
        ),
        "flagged": flagged,
        "ratios": ratios,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import pyspark

    from datafusion_datasource_orc_spark.operators import QUERIES
    from datafusion_datasource_orc_spark.session import get_spark

    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism
    host = host_fingerprint()
    # stamped into both the stdout line and bench_detail.json, so a sidecar
    # can be told apart from another run's
    run_id = f"{int(time.time())}-{os.getpid()}"

    host0 = _host_cpu()
    iterations, rows, compiles, stolen, failures = time_queries(
        spark, names, sf_dir, ITERATIONS
    )
    # the run's steal factor: its wall time over what it would have been
    # without steal (1.0: the hypervisor stole nothing)
    drift = round((1.0 - stolen_share(host0, _host_cpu())) ** -STEAL_COST, 3)
    results = best_of(iterations, stolen)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # Iteration 0 carries codegen and session warm-up; the warm median is
    # the steady state a repeated query sees, and `codegen_compiles` shows
    # how much of it was recompiling (see ITERATIONS). `queries` is the
    # best-of-N net of steal (`best_of`), comparable with committed BENCH
    # artifacts, which record best-of-N.
    cold = {n: its[0] for n, its in iterations.items()}
    warm = {
        n: round(statistics.median(its[1:]), 4) if len(its) > 1 else its[0]
        for n, its in iterations.items()
    }

    root = os.path.dirname(os.path.abspath(__file__))
    try:
        regression = compare(results, sf_val, cpus, host, root)
    except (OSError, ValueError, AttributeError, TypeError) as exc:
        regression = {"error": f"{type(exc).__name__}: {exc}"}
    if "vs" in regression:
        print(
            f"# regression vs {regression['vs']}: geomean {regression['geomean']}"
            f" over {regression['n']} common queries,"
            f" flagged {sorted(regression['flagged'])}",
            file=sys.stderr,
        )
    else:
        print(
            f"# regression: {regression.get('error', 'no baseline')}"
            f" (sf={sf_val}, cpus={cpus}, host={host})",
            file=sys.stderr,
        )

    # A BENCH artifact keeps only the LAST 2000 chars of stdout and parses
    # the JSON line out of that window; a line that overflows it is recorded
    # as parsed=null (BENCH_r02, BENCH_r04). So the stdout line stays compact,
    # and per-query detail and the full regression table go to this sidecar.
    with open(os.path.join(root, "bench_detail.json"), "w") as f:
        json.dump(
            {
                "sf": sf_val,
                "run_id": run_id,
                "iterations": {
                    n: {"seconds": its, "stolen_share": stolen[n]}
                    for n, its in iterations.items()
                },
                "queries_best": results,  # 3 dp (the stdout line rounds further)
                "queries_cold": cold,
                "queries_warm_median": warm,
                "cold_total": round(sum(cold.values()), 4),
                "warm_total": round(sum(warm.values()), 4),
                "regression_summary": regression,
                "failures": failures,
                "codegen_compiles": compiles,
                "context": {
                    "nproc": os.cpu_count(),
                    "cpus": cpus,
                    "host": host,
                    "pyspark_version": pyspark.__version__,
                    "python_version": platform.python_version(),
                    "sf_dir": sf_dir,
                    "rows": {n: counts[-1] for n, counts in rows.items()},
                },
            },
            f,
            indent=1,
        )

    # The stdout line carries scalars only for the regression block; the
    # flagged table, unbounded in size, lives in bench_detail.json.
    regression_compact = {
        k: regression[k]
        for k in ("geomean", "error")
        if k in regression
    }
    if "flagged" in regression:
        regression_compact["flags"] = len(regression["flagged"])
    # stdout budget (the 1900-char assert below): queries under the 0.5 s
    # cutoff live in bench_detail.json only. Their stdout entries are ~23
    # chars each of noise: sub-second queries swing 1.5-1.8x between runs of
    # the same code, so no 0.3-0.5 s entry can carry a trustworthy flag. The
    # rest print 2 dp under 1.0 s and 1 dp above (quantization <= 5%, far
    # under the 1.5x flag threshold). `n_below_cutoff` and
    # `below_cutoff_sum_sec` count and sum the unprinted queries, so a query
    # that got faster never reads as dropped from the bench; "value" and
    # n_queries cover every query. 72 headliners measured about 1,610 chars.
    def _emit(cutoff: float) -> str:
        below = [v for v in results.values() if v < cutoff]
        return json.dumps(
            {
                "metric": "headline_queries_total_best_of_%d" % ITERATIONS,
                "value": round(sum(results.values()), 2),
                "unit": "sec",
                "n_queries": len(results),
                "run_id": run_id,
                "queries": {
                    n: (round(v, 1) if v >= 1.0 else round(v, 2))
                    for n, v in results.items()
                    if v >= cutoff
                },
                "cutoff": cutoff,
                "n_below_cutoff": len(below),
                "below_cutoff_sum_sec": round(sum(below), 2),
                "drift": drift,
                "vs_prev": regression_compact,
                "sf": sf_val,
                "host": host,
            }
        )

    # A host-degraded run pushes more queries over the 0.5 s print cutoff (a
    # cold 1-iteration run has reached 2,062 chars). Rather than lose the
    # run's record, raise the cutoff in 0.1 s steps until the line fits;
    # bench_detail.json carries every query at full precision regardless.
    cutoff = 0.5
    line = _emit(cutoff)
    while len(line) >= 1900 and cutoff < 60.0:
        cutoff = round(cutoff + 0.1, 1)
        line = _emit(cutoff)
    if cutoff > 0.5:
        print(
            f"# stdout budget: per-query print cutoff raised to {cutoff}s "
            "(host-degraded run; full per-query times in bench_detail.json)",
            file=sys.stderr,
        )
    assert len(line) < 1900, (
        f"stdout summary line {len(line)} chars >= 1900 even at cutoff {cutoff}: "
        "move fields to bench_detail.json"
    )
    print(line)


if __name__ == "__main__":
    main()
