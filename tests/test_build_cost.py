"""The build layer's cost: py4j round trips and eager Spark jobs.

Building an operator's DataFrame talks to the JVM over py4j at least once
per Column call, and the iterative operators fire Spark jobs while they
build. These tests pin the settings and plan shapes that keep both counts
down, and check that the cheaper forms give the same rows.
"""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_PERMS,
    checkpointed_shingles,
    dedup_connected_components_lsh,
    minhash_bands,
    minhash_signatures,
)
from datafusion_datasource_orc_spark.sources.tables import load_table

# Main-thread py4j round trips to build minhash_bands over a checkpointed
# frame at sf0.001, with the band keys unrolled in Python: 2,646 with
# DataFrame debugging on, 896 with it off. With the keys built by one
# lambda: 622 and 292. The budget fails if either saving is lost.
BANDS_BUILD_CALL_BUDGET = 400
# Jobs fired while a warm dedup_connected_components_lsh builds at sf0.001:
# 27 with a left join and a separate count() action in each of its
# label-propagation rounds, 21 with one aggregation per round whose changed
# count rides in the round's checkpoint job.
CC_LSH_BUILD_JOBS = 21


def _shingles(spark, sf_dir):
    return checkpointed_shingles(load_table(spark, sf_dir, "documents"))


def test_get_spark_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_band_keys_equal_the_unrolled_form(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    unrolled = [
        F.struct(
            F.lit(band).alias("band"),
            F.xxhash64(
                *[F.col("sig")[band * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bh"),
        )
        for band in range(LSH_BANDS)
    ]
    want = (
        minhash_signatures(sh)
        .select("doc_id", F.explode(F.array(*unrolled)).alias("bk"))
        .select("doc_id", "bk.band", "bk.bh")
        .collect()
    )
    got = minhash_bands(sh).collect()
    assert len(got) == len(want) > 0
    assert sorted(got) == sorted(want)


def test_band_keys_build_within_py4j_budget(spark, sf_dir, monkeypatch):
    sh = _shingles(spark, sf_dir)
    minhash_bands(sh)  # first use of each function warms pyspark's caches
    send = ClientServerConnection.send_command
    main = threading.main_thread()
    calls = []

    def counting(self, *args, **kwargs):
        if threading.current_thread() is main:
            calls.append(args[0])
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    minhash_bands(sh)
    monkeypatch.undo()
    assert 0 < len(calls) <= BANDS_BUILD_CALL_BUDGET


def test_connected_components_build_fires_fewer_jobs(spark, sf_dir):
    sc = spark.sparkContext
    dedup_connected_components_lsh(spark, sf_dir).collect()  # warm: layouts, views
    group = "test_build_cost#cc_lsh"
    sc.setJobGroup(group, group)
    try:
        df = dedup_connected_components_lsh(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert dedup_connected_components_lsh.last_converged
    assert df.count() > 0
    assert 0 < jobs <= CC_LSH_BUILD_JOBS
