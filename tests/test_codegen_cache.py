"""get_spark's generated-code cache holds a warm query's classes.

Under Spark's default 100-entry cache, whose Guava segments evict long before
it is full, ``pipeline_end_to_end`` recompiled about 80 classes on every
run at sf0.001.
Both queries here generate the same code on every run. Queries whose code
changes between runs, such as ``dedup_connected_components_lsh`` (AQE can
number its codegen stages differently), are listed in ROADMAP item 2 (d).
"""

from __future__ import annotations

from bench import compile_count
from datafusion_datasource_orc_spark.operators import QUERIES

WARM_QUERIES = ("pipeline_end_to_end", "embedding_kmeans")


def test_warm_runs_compile_no_classes(spark, sf_dir):
    for name in WARM_QUERIES:
        QUERIES[name](spark, sf_dir).collect()
    before = compile_count(spark)
    for name in WARM_QUERIES:
        QUERIES[name](spark, sf_dir).collect()
    assert compile_count(spark) - before == 0
