"""bench.py's timing loop: failure recording, job-group labels, compile
counts, headline set."""

from __future__ import annotations

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
    seconds, rows, compiles, failures = bench.time_queries(
        spark, ["bench_test_broken", "orc_groupby_count"], sf_dir, 2
    )
    assert failures == [
        {
            "query": "bench_test_broken",
            "iteration": 0,
            "error": "RuntimeError: broken on purpose",
        }
    ]
    assert list(seconds) == list(compiles) == ["orc_groupby_count"]
    assert len(seconds["orc_groupby_count"]) == 2
    assert len(compiles["orc_groupby_count"]) == 2
    assert rows["orc_groupby_count"][0] == rows["orc_groupby_count"][1] > 0


def test_each_iteration_is_a_job_group(spark, sf_dir):
    bench.time_queries(spark, ["orc_filter_range"], sf_dir, 1)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("orc_filter_range#0")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
