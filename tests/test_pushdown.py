"""Pushdown verification — the reference's predicate_pushdown.rs test suite
re-expressed as explain-plan assertions: every predicate shape the reference
compiles to an ORC predicate (src/predicate.rs:53-245) must appear in
PushedFilters of our ORC scan, and projections must shrink ReadSchema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.plans import (
    pushed_filters,
    read_schema_columns,
    scan_summary,
    uses_whole_stage_codegen,
)
from datafusion_datasource_orc_spark.plans.pushdown import plan_nodes
from datafusion_datasource_orc_spark.sources.tables import load_orc_table


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return load_orc_table(spark, sf_dir, "lineitem")


# each case: (filter expr, expected PushedFilters fragments) — shapes from
# src/predicate.rs dispatch table (eq/neq/lt/lteq/gt/gteq/and/or/not/isnull)
CASES = [
    (lambda d: d.filter(F.col("l_quantity") == 5.0), ["EqualTo(l_quantity,5.0)"]),
    (lambda d: d.filter(F.col("l_quantity") != 5.0), ["Not(EqualTo(l_quantity,5.0))"]),
    (lambda d: d.filter(F.col("l_quantity") < 5.0), ["LessThan(l_quantity,5.0)"]),
    (lambda d: d.filter(F.col("l_quantity") <= 5.0), ["LessThanOrEqual(l_quantity,5.0)"]),
    (lambda d: d.filter(F.col("l_quantity") > 5.0), ["GreaterThan(l_quantity,5.0)"]),
    (lambda d: d.filter(F.col("l_quantity") >= 5.0), ["GreaterThanOrEqual(l_quantity,5.0)"]),
    (
        lambda d: d.filter((F.col("l_quantity") > 5.0) & (F.col("l_returnflag") == "R")),
        ["GreaterThan(l_quantity,5.0)", "EqualTo(l_returnflag,R)"],
    ),
    (
        lambda d: d.filter((F.col("l_returnflag") == "A") | (F.col("l_returnflag") == "R")),
        ["Or(EqualTo(l_returnflag,A),EqualTo(l_returnflag,R))"],
    ),
    (lambda d: d.filter(F.col("l_returnflag").isNull()), ["IsNull(l_returnflag)"]),
    (lambda d: d.filter(F.col("l_returnflag").isNotNull()), ["IsNotNull(l_returnflag)"]),
    # literal-op-column flip (src/predicate.rs:123-138): Catalyst normalizes
    (lambda d: d.filter(F.lit(5.0) < F.col("l_quantity")), ["GreaterThan(l_quantity,5.0)"]),
]


@pytest.mark.parametrize("case", range(len(CASES)))
def test_predicate_pushed_to_orc_scan(li, case):
    build, expected = CASES[case]
    got = pushed_filters(build(li))
    for frag in expected:
        assert frag in got, f"expected {frag} in PushedFilters, got {got}"


def test_projection_prunes_read_schema(li):
    schemas = read_schema_columns(li.select("l_orderkey", "l_quantity"))
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}


def test_zero_column_count_reads_no_columns(li):
    # count(*) over ORC: row-count-only scan (reference zero-column batches,
    # src/opener.rs:360-384)
    schemas = read_schema_columns(li.groupBy().count())
    assert schemas and schemas[0] == []


def test_filter_plus_projection_composition(li):
    df = li.filter(F.col("l_quantity") > 10).select("l_orderkey")
    s = scan_summary(df)
    assert "GreaterThan(l_quantity,10.0)" in s["pushed_filters"]
    read = set(s["read_schemas"][0])
    assert read == {"l_orderkey", "l_quantity"}  # filter col + projected col


def test_unsupported_predicate_falls_back_gracefully(li):
    # reference contract: non-convertible exprs aren't pushed but results stay
    # correct (src/source.rs:272-276)
    df = li.filter(F.length(F.col("l_returnflag")) == 1)
    # no crash; filter still applied above the scan
    assert df.count() > 0
    assert all("length" not in f.lower() for f in pushed_filters(df))


def test_whole_stage_codegen_active(li):
    df = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    assert uses_whole_stage_codegen(df)


def test_pushdown_disabled_by_option(spark, sf_dir, li, ddb):
    # orc.pushdown_predicate=false parity (src/options.rs:40: default true).
    # Spark still *displays* candidate PushedFilters with the conf off (the
    # conf gates SearchArgument construction in the reader) — the observable
    # contract, as in the reference (stripe pruning is an optimization,
    # src/source.rs:279-280), is unchanged results.
    expected = ddb.execute("SELECT count(*) FROM lineitem WHERE l_quantity > 10").fetchone()[0]
    spark.conf.set("spark.sql.orc.filterPushdown", "false")
    try:
        assert li.filter(F.col("l_quantity") > 10).count() == expected
    finally:
        spark.conf.set("spark.sql.orc.filterPushdown", "true")
    assert li.filter(F.col("l_quantity") > 10).count() == expected


def test_python_data_source_scan_reports_its_pushed_filter(spark, sf_dir):
    # a DSv2 scan keeps PushedFilters in scan().getMetaData(), and its read
    # schema in scan().readSchema()
    from datafusion_datasource_orc_spark.operators.scan import orc_file_metadata_pruned

    df = orc_file_metadata_pruned(spark, sf_dir)
    assert pushed_filters(df) == ["EqualTo(file_name,chunk-2.orc)"]
    assert read_schema_columns(df) == [
        ["file_index", "file_name", "num_rows", "num_stripes", "num_columns", "file_bytes"]
    ]


def test_a_scan_without_pushed_filters_reports_none(spark, tmp_path):
    # a DSv2 text scan's metadata has no PushedFilters entry
    path = str(tmp_path / "text")
    spark.range(5).selectExpr("cast(id as string) v").write.text(path)
    key = "spark.sql.sources.useV1SourceList"
    old = spark.conf.get(key)
    spark.conf.set(key, "")
    try:
        df = spark.read.text(path).filter(F.col("value") == "1")
        assert pushed_filters(df) == []
        assert read_schema_columns(df) == [["value"]]
    finally:
        spark.conf.set(key, old)


def test_pushed_filters_of_an_unrun_scalar_subquery(spark, sf_dir):
    # the scan's metadata entry, not pushedDownFilters(), which evaluates the
    # subquery and raises on a plan that has not run
    from datafusion_datasource_orc_spark.operators.relational import scalar_subquery

    assert pushed_filters(scalar_subquery(spark, sf_dir)) == ["IsNotNull(o_totalprice)"]


def test_plan_nodes_lists_operators_not_codegen_wrappers(li):
    # WholeStageCodegen and InputAdapter wrap a codegen stage; formatted
    # explain numbers neither as an operator
    df = li.filter(F.col("l_quantity") > 10).select("l_orderkey")
    assert plan_nodes(df) == ["Project", "Filter", "ColumnarToRow", "Scan orc"]


def test_plan_nodes_leave_out_subquery_wrappers(spark, sf_dir, tmp_path):
    from datafusion_datasource_orc_spark.operators.relational import scalar_subquery

    # the scalar subquery's plan hangs under a SubqueryExec
    assert plan_nodes(scalar_subquery(spark, sf_dir)) == [
        "AdaptiveSparkPlan", "Filter", "Scan parquet",
        "AdaptiveSparkPlan", "HashAggregate", "Exchange", "HashAggregate", "Scan parquet",
    ]
    # dynamic partition pruning's subquery hangs under a
    # SubqueryAdaptiveBroadcastExec
    path = str(tmp_path / "fact")
    spark.range(64).withColumn("p", F.col("id") % 4).write.partitionBy("p").parquet(path)
    dim = spark.range(4).withColumnRenamed("id", "p").withColumn("x", F.col("p") * 10)
    pruned = spark.read.parquet(path).join(dim.filter(F.col("x") == 10), "p")
    assert plan_nodes(pruned) == [
        "AdaptiveSparkPlan", "Project", "BroadcastHashJoin", "Scan parquet",
        "AdaptiveSparkPlan", "Project", "Filter", "Range",
        "BroadcastExchange", "Project", "Filter", "Range",
    ]
