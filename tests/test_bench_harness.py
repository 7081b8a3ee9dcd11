"""bench.py's timing loop: failure recording, job-group labels, compile
counts, stolen shares, headline set; and its comparator: baseline choice by
(sf, cpus, host) and the flag rule, over synthetic BENCH artifacts."""

from __future__ import annotations

import json

import pytest

import bench
from datafusion_datasource_orc_spark.operators import QUERIES


def test_headline_is_75_unique_registered_queries():
    assert len(bench.HEADLINE) == 75
    assert len(set(bench.HEADLINE)) == 75
    assert set(bench.HEADLINE) <= set(QUERIES)


def test_failing_query_is_recorded_and_the_next_is_timed(spark, sf_dir, monkeypatch):
    def broken(spark, sf_dir):
        raise RuntimeError("broken on purpose")

    monkeypatch.setitem(QUERIES, "bench_test_broken", broken)
    seconds, rows, compiles, stolen, failures = bench.time_queries(
        spark, ["bench_test_broken", "orc_groupby_count"], sf_dir, 2
    )
    assert failures == [
        {
            "query": "bench_test_broken",
            "iteration": 0,
            "error": "RuntimeError: broken on purpose",
        }
    ]
    assert list(seconds) == list(compiles) == list(stolen) == ["orc_groupby_count"]
    assert 0.0 <= stolen["orc_groupby_count"] < 1.0
    assert len(seconds["orc_groupby_count"]) == 2
    assert len(compiles["orc_groupby_count"]) == 2
    assert rows["orc_groupby_count"][0] == rows["orc_groupby_count"][1] > 0


def test_each_iteration_is_a_job_group(spark, sf_dir):
    bench.time_queries(spark, ["orc_filter_range"], sf_dir, 1)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("orc_filter_range#0")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_stolen_share_is_steal_over_wanted_cpu_time():
    # /proc/stat order: user nice system idle iowait irq softirq steal
    before = [100, 10, 50, 900, 40, 5, 5, 10, 0, 0]
    after = [160, 10, 70, 1900, 90, 5, 5, 30, 0, 0]
    # idle and iowait are not wanted time: 20 stolen of 60 + 20 + 20
    assert bench.stolen_share(before, after) == 0.2
    assert bench.stolen_share(before, before) == 0.0


def test_best_of_is_net_of_steal():
    seconds = {"q": [1.2, 1.0, 1.1], "r": [0.7, 0.6]}
    assert bench.best_of(seconds, {"q": 0.2, "r": 0.0}) == {
        "q": round(0.8**1.5, 3),
        "r": 0.6,
    }


HOST = "h-local"


def _artifact(root, name, cpus, sf, queries, host=HOST, **fields):
    """A committed BENCH artifact; ``queries=None`` stands for a stdout line
    that did not parse, ``host=None`` for one from before the line named its
    machine. ``fields`` go onto the line (``cutoff``, ``n_below_cutoff``)."""
    line = None if queries is None else {"queries": queries, "drift": 6.0, "sf": sf, **fields}
    if line is not None and host is not None:
        line["host"] = host
    record = {"n": 1, "rc": 0, "cpus": cpus, "sf": sf, "parsed": line}
    (root / name).write_text(json.dumps(record))


@pytest.mark.parametrize(
    "sf, cpus, baseline",
    [
        (0.1, 4, "BENCH_r10.json"),  # newest parsed at (0.1, 4); r10 after r3
        (0.01, 4, "BENCH_r11.json"),
        (0.1, 8, "BENCH_r20_c8.json"),  # round 20, newer than r19
        (0.1, 32, "BENCH_r15.json"),
        (0.1, 16, None),
        (1.0, 4, None),
    ],
)
def test_baseline_is_newest_at_same_sf_and_cpus(tmp_path, sf, cpus, baseline):
    q = {"q": 2.0}
    _artifact(tmp_path, "BENCH_r3.json", 4, 0.1, q)
    _artifact(tmp_path, "BENCH_r10.json", 4, 0.1, q)
    _artifact(tmp_path, "BENCH_r11.json", 4, 0.01, q)
    _artifact(tmp_path, "BENCH_r12.json", 4, 0.1, None)
    _artifact(tmp_path, "BENCH_r15.json", 32, 0.1, q)
    _artifact(tmp_path, "BENCH_r19.json", 8, 0.1, q)
    _artifact(tmp_path, "BENCH_r20_c8.json", 8, 0.1, q)
    # a bare stdout line carries no core count, so it matches no run
    bare = {"queries": q, "drift": 1.0, "sf": 0.1}
    (tmp_path / "BENCH_r30.json").write_text(json.dumps(bare))

    summary = bench.compare({"q": 2.0}, sf, cpus, HOST, str(tmp_path))
    if baseline is None:
        assert summary == {}
    else:
        assert summary["vs"] == baseline
        assert summary["n"] == 1
        assert summary["flagged"] == {}


def test_baseline_is_from_the_same_host(tmp_path):
    """A run at the same (sf, cpus) on another machine, or from before the
    line named its machine, is never a baseline: an 8-CPU run on one VM
    flagged 2 of 5 queries against an 8-CPU artifact from another."""
    _artifact(tmp_path, "BENCH_r14_c8.json", 8, 0.1, {"q": 1.0})
    _artifact(tmp_path, "BENCH_r15_c8.json", 8, 0.1, {"q": 1.0}, host="h-driver")
    _artifact(tmp_path, "BENCH_r16_c8.json", 8, 0.1, {"q": 1.0}, host=None)
    summary = bench.compare({"q": 2.0}, 0.1, 8, HOST, str(tmp_path))
    assert summary["vs"] == "BENCH_r14_c8.json"
    assert bench.compare({"q": 2.0}, 0.1, 8, "h-other", str(tmp_path)) == {}


@pytest.mark.parametrize("cpus", [4, 8])
def test_a_doubled_query_is_flagged(tmp_path, cpus):
    _artifact(tmp_path, "BENCH_r1.json", cpus, 0.1, {"a": 1.0, "b": 3.0})
    summary = bench.compare({"a": 2.0, "b": 3.0}, 0.1, cpus, HOST, str(tmp_path))
    assert summary["flagged"] == {"a": 2.0}
    assert summary["ratios"] == {"a": 2.0, "b": 1.0}


def test_a_small_delta_is_not_flagged(tmp_path):
    _artifact(tmp_path, "BENCH_r1.json", 4, 0.1, {"a": 0.3})
    summary = bench.compare({"a": 0.6}, 0.1, 4, HOST, str(tmp_path))
    assert summary["ratios"] == {"a": 2.0}
    assert summary["flagged"] == {}


def test_equal_times_are_not_flagged(tmp_path):
    prev = {"a": 0.7, "b": 1.5, "c": 12.0}
    _artifact(tmp_path, "BENCH_r1.json", 4, 0.1, prev)
    summary = bench.compare(dict(prev), 0.1, 4, HOST, str(tmp_path))
    assert summary["flagged"] == {}
    assert summary["geomean"] == 1.0


@pytest.mark.parametrize(
    "fields, printed",
    [
        ({"cutoff": 0.5, "n_below_cutoff": 3}, {"a": 2.0}),
        # a line from before it recorded its cutoff: the smallest printed
        # time, 0.5 here, stands in for it
        ({}, {"a": 2.0, "b": 0.5}),
    ],
    ids=["cutoff", "no_cutoff"],
)
def test_a_query_under_the_baseline_cutoff_is_compared(tmp_path, fields, printed):
    """A query the baseline ran under its 0.5 s cutoff is flagged above
    max(1.5 * 0.5, 0.5 + 0.5) = 1.0 s, not ignored."""
    _artifact(tmp_path, "BENCH_r1.json", 4, 0.1, printed, **fields)
    slow = bench.compare({**printed, "q": 1.2}, 0.1, 4, HOST, str(tmp_path))
    assert slow["flagged"] == {"q": 2.4}
    assert "q" not in slow["ratios"] and slow["n"] == len(printed)
    fast = bench.compare({**printed, "q": 0.6}, 0.1, 4, HOST, str(tmp_path))
    assert fast["flagged"] == {}


def test_a_query_the_baseline_did_not_run_is_not_compared(tmp_path):
    _artifact(tmp_path, "BENCH_r1.json", 4, 0.1, {"a": 2.0}, cutoff=0.5, n_below_cutoff=0)
    summary = bench.compare({"a": 2.0, "q": 3.0}, 0.1, 4, HOST, str(tmp_path))
    assert summary["flagged"] == {}
